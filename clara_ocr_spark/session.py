"""The one SparkSession builder: the jobs, perfbench, ``bench.py``, the
scripts and the tests all get their session here, so each runs the
configuration that ships.

Master and driver memory are launch settings, not program settings:
jobs take them from ``spark-submit --master … --driver-memory …``, and
in-process callers put the same flags in ``PYSPARK_SUBMIT_ARGS`` before
their first session starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "clara-ocr-spark") -> SparkSession:
    # Python workers are separate processes and resolve imports from
    # env, not the driver's sys.path: export this package's root so a
    # driver started from any cwd finds it on its workers (local mode
    # inherits env; on a real cluster ``--py-files`` ships the package).
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the final exchange of a cached plan too (off
        # by default): a persisted job output would otherwise keep
        # spark.sql.shuffle.partitions partitions, and its cache build,
        # output write and lineage pass each run that many near-empty
        # tasks
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no call-site capture: with it on, every PySpark API call
        # walks the stack and tries ``import IPython`` and
        # ``import ipykernel`` to annotate error messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
