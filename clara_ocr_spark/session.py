"""SparkSession factory tuned for the extraction workload.

Defaults target local[N] sandbox runs; every knob is the one that
matters at cluster scale too (AQE, Arrow batching, shuffle partition
count, UTC for oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "clara-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Make this package importable on Python workers regardless of the
    # driver's cwd (local mode inherits env; on a real cluster ship the
    # package with ``spark-submit --py-files clara_ocr_spark.zip``).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the mapInPandas parse stage. A/B at
        # local[32], fresh JVM, 100k docs: 2048 ≈ 36k docs/s beats
        # 16384 ≈ 29k (bigger frames lose more to allocation than they
        # save in per-batch overhead); within a long-warm JVM the
        # ranking flips, so a long-lived deployment should re-measure.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1/§9: SHJ skips both
        # sorts), and let AQE rewrite SMJ->SHJ at runtime when every
        # post-shuffle partition is small. Join-strategy only — results
        # are identical; scale-safe because both knobs stay size-gated
        # by the planner/AQE rather than forcing a strategy.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Local corpora are tiny vs the 128 MB default split size; size
        # splits so small-file scans still fan out across all cores (on
        # a real cluster the 128 MB default is right).
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .getOrCreate()
    )
