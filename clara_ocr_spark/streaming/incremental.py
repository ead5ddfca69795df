"""Incremental extraction driver — the ``clara.pl -d`` daemon analogue
(clara.pl:26-44: poll for new/changed pages every 30 s, process only
those), recast as Structured Streaming over the corpus directory.

The file source's checkpointed file log IS the work queue: shards
that arrive after the last trigger are the only ones read on the next
trigger; ``foreachBatch`` runs the identical batch pipeline (segment →
classify → assemble) on each micro-batch and appends to the extracted
table.  ``Trigger.AvailableNow`` gives the poll-until-drained batch
semantics of the daemon without a resident process.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..pipeline import extract

PAGES_SPARK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def run_incremental(
    spark: SparkSession,
    corpus_dir: str,
    out_path: str,
    checkpoint_dir: str,
    patterns: Optional[DataFrame] = None,
    mixed: bool = False,
) -> int:
    """Process all not-yet-seen corpus shards; returns the number of
    micro-batches executed.  Safe to call repeatedly (idempotent for
    already-processed files — the daemon's 'runnable page' test).
    ``mixed=True`` routes %PDF- payloads through the layout leg per
    micro-batch (``pipeline.extract(…, mixed=True)``, the batch job's
    own builder)."""
    stream = (
        spark.readStream.schema(PAGES_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(corpus_dir)
    )
    n_batches = 0

    def process(batch: DataFrame, epoch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        extract(batch, patterns, mixed=mixed).write.mode("append").parquet(
            out_path
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches


def run_incremental_curate(
    spark: SparkSession,
    corpus_dir: str,
    curated_path: str,
    rejects_path: str,
    checkpoint_dir: str,
    cfg=None,
    eval_texts: Optional[DataFrame] = None,
) -> int:
    """Incremental curation: each micro-batch of new shards runs the
    FULL batch curation (quality gate, optional decontamination,
    two-tier dedup) within the batch, then a cross-batch exact-dup
    anti-join against the already-curated table — a re-crawled or
    mirrored page arriving in a later batch is rejected as
    ``duplicate`` instead of re-curated.

    Scale honesty: exact dedup is incremental here (hash anti-join
    against the curated high-water mark — the dominant duplication
    mode across crawl snapshots is byte-identical refetch); NEAR-dup
    is within-batch only, because an incremental LSH index is a
    stateful service, not a stream fold — production runs the batch
    `dedup_canonicalize` periodically as compaction over the curated
    table (the same batch/streaming split as the acts MERGE)."""
    import os

    import pyspark.sql.functions as F

    from ..curate import REASON_DUPLICATE, CurateConfig, curate

    cfg = cfg or CurateConfig()
    stream = (
        spark.readStream.schema(PAGES_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(corpus_dir)
    )
    n_batches = 0

    def process(batch: DataFrame, epoch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        curated_b, rejected_b = curate(extract(batch), cfg, eval_texts)
        if os.path.isdir(curated_path) and any(
            f.endswith(".parquet") for f in os.listdir(curated_path)
        ):
            seen = spark.read.parquet(curated_path).select(
                F.md5("text").alias("_h")
            )
            keyed = curated_b.withColumn("_h", F.md5("text"))
            dup = keyed.join(seen, "_h", "left_semi").select(
                "url", F.lit(REASON_DUPLICATE).alias("reason")
            )
            curated_b = keyed.join(seen, "_h", "left_anti").drop("_h")
            rejected_b = rejected_b.unionByName(dup)
        curated_b.write.mode("append").parquet(curated_path)
        rejected_b.write.mode("append").parquet(rejects_path)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches
