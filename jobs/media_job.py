#!/usr/bin/env python
"""spark-submit entry point for the multimodal scan — the media twin
of jobs/curate_job.py:

    media(media_id, kind, payload) → decoded metadata + image
    near-dup pairs + audio near-dup pairs [+ barcodes] + lineage

    spark-submit --py-files dist/clara_ocr_spark.zip jobs/media_job.py \\
        --input  s3://bucket/media/          \\
        --decoded s3://bucket/media_decoded/ \\
        [--image-dups PATH] [--audio-dups PATH] [--barcodes PATH] \\
        [--metrics PATH] [--run-id r1] [--band-cap 64]

Every stage is a map-only Arrow-batched pass over the payloads (the
payload column never shuffles); only the two near-dup candidate joins
shuffle, and those carry (media_id, 64-bit hash) rows exclusively.
Corrupt / codec-gated / NULL payloads yield NULL rows in every output
(total coverage, never a task failure) — the `find_thing` corrupt-
media discipline (SURVEY §2.1) across the whole surface.
"""

from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--decoded", required=True)
    ap.add_argument(
        "--image-dups",
        default=None,
        help="write perceptual image near-dup pairs (dHash + banded "
        "Hamming join) here",
    )
    ap.add_argument(
        "--audio-dups",
        default=None,
        help="write gain-invariant audio near-dup pairs here",
    )
    ap.add_argument(
        "--barcodes",
        default=None,
        help="write the Code 39 barcode scan (media_id, barcode) here",
    )
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--run-id", default="adhoc")
    ap.add_argument(
        "--band-cap",
        type=int,
        default=64,
        help="hot-band stoplist threshold for both near-dup joins",
    )
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from clara_ocr_spark.functions.phash import (
        dhash_near_dup,
        media_fingerprints,
    )
    from clara_ocr_spark.session import build_session
    from clara_ocr_spark.sources.multimodal import decode
    from clara_ocr_spark.stages.consist import (
        append_metrics,
        partition_lineage,
    )

    spark = build_session()
    media = spark.read.parquet(args.input)

    decode(media).write.mode("overwrite").parquet(args.decoded)
    if args.image_dups or args.audio_dups:
        # ONE payload scan computes both perceptual keys; the lazy
        # checkpoint makes the two dedup writes share it
        fps = media_fingerprints(media).localCheckpoint(eager=False)
    if args.image_dups:
        dhash_near_dup(
            fps.select(
                "media_id", F.col("image_dhash").alias("dhash")
            ),
            band_cap=args.band_cap,
        ).write.mode("overwrite").parquet(args.image_dups)
    if args.audio_dups:
        dhash_near_dup(
            fps.select("media_id", F.col("audio_fp").alias("dhash")),
            band_cap=args.band_cap,
        ).write.mode("overwrite").parquet(args.audio_dups)
    if args.barcodes:
        from clara_ocr_spark.functions.barcode import scan_barcodes

        scan_barcodes(media).write.mode("overwrite").parquet(args.barcodes)

    if args.metrics:
        out = spark.read.parquet(args.decoded)
        append_metrics(
            partition_lineage(out, args.run_id, "media_scan"), args.metrics
        )
    spark.stop()


if __name__ == "__main__":
    main()
