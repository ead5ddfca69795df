"""Launch settings for every Spark process the benchmark starts, in one
place.

Only what a deployment passes to ``spark-submit`` is set here: the
master, the driver memory, the local scratch directory, the console
progress bar and (traced runs only) the event log.  SQL tuning stays
with the jobs' own ``build_session`` so that program-side tuning is
measured, not masked.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys

#: Everything a run writes lives here, inside the checkout.
WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_work")

#: Driver heap. ``session.get_spark`` defaults to 24g; this fits a
#: small shared box while leaving the jobs' working sets room.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{nproc()}]"


def submit_argv(script: str, args: list, event_log_dir: str | None = None) -> list:
    """``spark-submit`` command line for ``script`` (a path relative to
    the checkout root) with the benchmark's launch settings."""
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    argv = ["spark-submit", "--master", master(), "--driver-memory", DRIVER_MEMORY]
    # keep the JVM's scratch files (native libraries it unpacks, perf
    # counters) inside the checkout
    argv += ["--driver-java-options", f"-Djava.io.tmpdir={tmp_dir()} -XX:-UsePerfData"]
    for k, v in conf.items():
        argv += ["--conf", f"{k}={v}"]
    return argv + [script] + list(args)


def tmp_dir() -> str:
    path = os.path.join(WORK, "tmp")
    os.makedirs(path, exist_ok=True)
    return path


def submit_env(root: str) -> dict:
    """Environment for a ``spark-submit`` child: the package resolves
    from the checkout root on the driver and on the Python workers (the
    local analogue of ``--py-files``), and Spark's scratch space and
    temporary files live in the checkout."""
    local_dir = os.path.join(WORK, "local")
    os.makedirs(local_dir, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_LOCAL_DIRS": local_dir,
            "TMPDIR": tmp_dir(),
            "PYTHONPATH": root,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _first_line(argv: list) -> str:
    try:
        out = subprocess.run(argv, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stdout + out.stderr).strip().splitlines()
    return lines[0].strip() if lines else "unknown"


def run_metadata(root: str) -> dict:
    """What a result needs beside its numbers to be comparable: core
    count, versions and launch settings.  The checkout may not be a git
    repository, so the commit is read when available and reported as
    ``unknown`` otherwise."""
    import pyspark

    commit = _first_line(["git", "-C", root, "rev-parse", "HEAD"])
    if len(commit) != 40:
        commit = "unknown"
    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": _first_line(["java", "-version"]),
        "commit": commit,
        "launch": {
            "master": master(),
            "driver_memory": DRIVER_MEMORY,
            "console_progress": False,
            "spark_local_dirs": "<checkout>/.bench_work/local",
        },
    }
