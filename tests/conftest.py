from __future__ import annotations

import os

import pytest

# Shuffle/spill on tmpfs: the sandbox's virtio disk adds erratic
# multi-second stalls (see bench.py note); tests only need determinism
# and speed. Honors a pre-set SPARK_LOCAL_DIRS.
if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
    os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local-tests"

from clara_ocr_spark.session import build_session
from clara_ocr_spark.sources.corpus import ensure_corpus

DATA_DIR = os.path.join(os.path.dirname(__file__), "..", ".data")

# Master and driver heap of the tests' session, passed the way
# spark-submit passes them; scripts that reproduce what the tests pin
# launch with it too.
LAUNCH = "--master local[8] --driver-memory 4g pyspark-shell"


@pytest.fixture(scope="session")
def spark():
    # The JVM reads the launch once, at start; a PYSPARK_SUBMIT_ARGS
    # already in the environment wins.  Otherwise it is removed again
    # so the job subprocesses the tests start make their own launch.
    preset = "PYSPARK_SUBMIT_ARGS" in os.environ
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", LAUNCH)
    s = build_session("clara-tests")
    if not preset:
        del os.environ["PYSPARK_SUBMIT_ARGS"]
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def corpus_path() -> str:
    return ensure_corpus(os.path.join(DATA_DIR, "pages_300.parquet"), n=300, seed=42)


@pytest.fixture(scope="session")
def sf001() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01() -> str:
    return "/root/testdata/sf0.01"
