#!/usr/bin/env python
"""spark-submit entry point for the full training-data curation run:

    pages → extract[_mixed] → quality gate → near-dup canonicalize
          → curated/ + rejected/ + lineage metrics

    spark-submit --py-files dist/clara_ocr_spark.zip jobs/curate_job.py \\
        --input  s3://bucket/pages/    \\
        --curated s3://bucket/curated/ \\
        --rejects s3://bucket/rejects/ \\
        [--metrics s3://bucket/metrics/] [--run-id r1] [--mixed] \\
        [--decontaminate s3://bucket/eval_texts/] \\
        [--set min_tokens=5 --set jaccard_tau=0.9]

Every input url lands in exactly one of curated/rejected (the step_6
consistency discipline, enforced by an explicit count gate here).
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
    ap.add_argument("--curated", required=True)
    ap.add_argument("--rejects", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--run-id", default="adhoc")
    ap.add_argument("--mixed", action="store_true")
    ap.add_argument(
        "--decontaminate",
        default=None,
        help="parquet of eval-benchmark texts (column `text`); "
        "quality-passing docs sharing a word-5-gram with it are "
        "rejected as `contaminated` before dedup",
    )
    ap.add_argument(
        "--fuzzy-tau",
        type=float,
        default=None,
        metavar="TAU",
        help="with --decontaminate, ALSO reject docs whose token set "
        "near-matches an eval doc at Jaccard >= TAU (MinHash-LSH "
        "banded probe, curate.fuzzy_contaminated_urls — catches the "
        "paste-mutations the exact 5-gram probe misses); both probes "
        "broadcast the eval side",
    )
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "warc", "wet"],
        help="parquet pages table (default); warc = crawl files "
        "(response records, extraction runs here); wet = WET "
        "extracted-text sidecars (conversion records — the text "
        "column IS the extraction, so curation starts at the quality "
        "gate: the Common-Crawl-native curation path)",
    )
    ap.add_argument(
        "--split",
        action="store_true",
        help="add a leakage-safe train/val/test `split` column to the "
        "curated table (80/10/10, a pure function of the content "
        "hash — byte-identical docs always share a split)",
    )
    ap.add_argument(
        "--mix-weights",
        default=None,
        help="also write the per-host mixture-weight table "
        "(alpha=1/2 temperature resampling over curated docs) here",
    )
    ap.add_argument(
        "--lm-ref",
        default=None,
        help="parquet of reference texts (column `text`) the bigram "
        "perplexity gate trains on (enable the gate with "
        "--set lm_nll_max=N; without --lm-ref it trains on the "
        "content-hash %%5 self-slice)",
    )
    ap.add_argument(
        "--dsir-weights",
        default=None,
        help="also write the per-url DSIR log importance weight "
        "sidecar (against --dsir-target) here",
    )
    ap.add_argument(
        "--dsir-target",
        default=None,
        help="parquet of target-domain texts (column `text`) the "
        "DSIR importance weights are estimated against",
    )
    ap.add_argument(
        "--psl-rules",
        default=None,
        metavar="PATH",
        help="public-suffix rule list (publicsuffix.org format, one "
        "rule per line); with --mix-weights, keys the mixture table "
        "by REGISTERED DOMAIN (eTLD+1) instead of raw host",
    )
    ap.add_argument(
        "--corpus-health",
        default=None,
        metavar="PATH",
        help="also write the corpus-health report (long metric/value "
        "table: Zipf head slope, Heaps vocabulary-growth exponent, "
        "Good-Turing missing mass + Chao1 richness, exact length "
        "per-milles, and the url-parity KS self-consistency probe) "
        "over the CURATED table here — the pre-mix snapshot audit",
    )
    ap.add_argument(
        "--fix-encoding",
        action="store_true",
        help="repair UTF-8-as-cp1252 mojibake baked into the source "
        "documents before the quality gate (conservative ftfy-style "
        "fixer, curate.repair_text_encoding) — two damaged copies of "
        "one page dedup only after both repair identically",
    )
    ap.add_argument(
        "--encoding-audit",
        default=None,
        metavar="PATH",
        help="also write the per-host encoding-damage ledger "
        "(curate.encoding_damage_audit) over the PRE-repair text — "
        "the corpus-health view of what --fix-encoding would touch",
    )
    ap.add_argument(
        "--normalize",
        default=None,
        choices=["NFC", "NFD", "NFKC", "NFKD"],
        help="Unicode-normalize text before the gate (C4-style NFKC "
        "folds fullwidth forms and ligatures; NFC/NFD variants of "
        "one page dedup as one document) — runs after --fix-encoding",
    )
    ap.add_argument("--set", dest="overrides", action="append", default=[])
    args = ap.parse_args(argv)
    if args.input_format == "wet" and args.mixed:
        ap.error("--mixed extracts from raw payloads; WET is pre-extracted")
    if bool(args.dsir_weights) != bool(args.dsir_target):
        ap.error("--dsir-weights and --dsir-target go together")
    if args.psl_rules and not args.mix_weights:
        ap.error("--psl-rules keys the --mix-weights table; pass both")
    if args.fuzzy_tau is not None and not args.decontaminate:
        ap.error("--fuzzy-tau needs --decontaminate (the eval set "
                 "both probes run against)")

    from clara_ocr_spark.curate import CurateConfig, curate
    from clara_ocr_spark.pipeline import extract
    from clara_ocr_spark.session import build_session
    from clara_ocr_spark.stages.consist import append_metrics, partition_lineage

    try:
        cfg = CurateConfig.from_args(args.overrides)
    except ValueError as e:
        ap.error(str(e))
    spark = build_session()
    if args.input_format == "parquet":
        pages = spark.read.parquet(args.input)
    else:
        from clara_ocr_spark.sources.formats import read_pages_warc

        pages = read_pages_warc(spark, args.input)
    if args.input_format == "wet":
        import pyspark.sql.functions as F

        # conversion records carry the extracted text already; html is
        # NULL by construction — no extraction pass at all
        extracted = pages.select(
            "url", F.coalesce("text", F.lit("")).alias("text")
        )
    else:
        extracted = extract(pages, mixed=args.mixed)
    if args.encoding_audit:
        from clara_ocr_spark.curate import encoding_damage_audit

        # over the PRE-repair text by construction (the ledger reads
        # the damage the crawl shipped); extraction is re-executed by
        # this extra action only when the main path below isn't
        # checkpointed yet — at ledger scale that one extra pass is
        # the honest cost of a whole-corpus audit sidecar
        encoding_damage_audit(extracted).write.mode("overwrite").parquet(
            args.encoding_audit
        )
    if args.fix_encoding:
        from clara_ocr_spark.curate import repair_text_encoding

        extracted = repair_text_encoding(extracted).drop(
            "encoding_repaired"
        )
    if args.normalize:
        from clara_ocr_spark.curate import normalize_text

        extracted = normalize_text(extracted, args.normalize)
    eval_texts = (
        spark.read.parquet(args.decontaminate)
        if args.decontaminate
        else None
    )
    if eval_texts is not None and args.normalize:
        # the contamination probe is EXACT shingle-hash equality: the
        # eval side must be normalized with the same form as the
        # corpus, or a normalized corpus copy of a benchmark doc no
        # longer hashes equal and silently leaks through (review
        # finding r5)
        eval_texts = normalize_text(eval_texts, args.normalize)
    # Consistency gate with ZERO extra passes (VERDICT r3 item 6):
    # the three counts ride the two write actions as CollectMetrics
    # observations instead of three post-hoc rescans.  The input count
    # is attached inside curate() on the gated rows (gate_obs): above
    # the features checkpoint, below the persisted decision that both
    # outputs filter.  The curated write builds that cache and fills
    # n_in; the rejected write reads the cache in one job.
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs_in, obs_cur, obs_rej = Observation(), Observation(), Observation()
    lm_ref = spark.read.parquet(args.lm_ref) if args.lm_ref else None
    curated, rejected = curate(
        extracted, cfg, eval_texts=eval_texts, gate_obs=obs_in,
        lm_ref=lm_ref, fuzzy_tau=args.fuzzy_tau,
    )
    if args.split:
        from clara_ocr_spark.curate import assign_split

        curated = assign_split(curated)
    curated.observe(obs_cur, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(args.curated)
    if args.mix_weights:
        from clara_ocr_spark.curate import domain_mixture

        reg_rules = None
        if args.psl_rules:
            from clara_ocr_spark.stages.domains import rules_df

            # the PSL is a ~15k-line text artifact: read it driver-
            # side into the broadcastable rule relation
            with open(args.psl_rules, encoding="utf-8") as fh:
                reg_rules = rules_df(spark, fh.read().splitlines())
        # read the just-written table back: the mixture needs only
        # (url, n_tokens) — a pruned columnar scan of the output, not
        # a re-run of the extract/dedup lineage
        domain_mixture(
            spark.read.parquet(args.curated), reg_rules=reg_rules
        ).write.mode("overwrite").parquet(args.mix_weights)
    if args.corpus_health:
        from clara_ocr_spark.curate import corpus_health

        # read-back shape like --mix-weights/--dsir-weights: the
        # report needs only (url, text) from the published table,
        # never the curation lineage
        corpus_health(
            spark.read.parquet(args.curated)
        ).write.mode("overwrite").parquet(args.corpus_health)
    if args.dsir_weights:
        from clara_ocr_spark.curate import dsir_weights

        # same read-back shape as --mix-weights: the sidecar needs only
        # (url, text) from the published table, never the curation
        # lineage
        dsir_weights(
            spark.read.parquet(args.curated),
            spark.read.parquet(args.dsir_target),
        ).write.mode("overwrite").parquet(args.dsir_weights)
    rejected.observe(obs_rej, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(args.rejects)

    # the two outputs partition the extracted rows exactly (extract
    # emits one row per url, so this is the per-url step_6 invariant)
    n_in = obs_in.get["n_in"]
    n_cur, n_rej = obs_cur.get["n"], obs_rej.get["n"]
    if n_cur + n_rej != n_in:
        raise AssertionError(
            f"curation lost/duplicated urls: {n_cur}+{n_rej} != {n_in}"
        )

    if args.metrics:
        out = spark.read.parquet(args.curated)
        append_metrics(
            partition_lineage(out, args.run_id, "curate"), args.metrics
        )
    spark.stop()


if __name__ == "__main__":
    main()
