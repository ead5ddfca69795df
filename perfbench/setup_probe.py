"""Set-up probe, launched by ``spark-submit`` exactly like a job: build
the jobs' own session, run one trivial action, and print ``READY`` so
the parent can time a fresh process to a usable session.

    spark-submit perfbench/setup_probe.py [SCRIPT ARG...]

With a job script, the probe then runs that script as ``__main__`` with
its arguments, in the same process: the job's own ``build_session``
gets the session back, so one submit yields both a set-up time and a
job run.
"""

import runpy
import sys

from jobs.extract_job import build_session

spark = build_session()
spark.range(1).count()
print("READY", flush=True)
if len(sys.argv) > 1:
    sys.argv = sys.argv[1:]
    runpy.run_path(sys.argv[0], run_name="__main__")
else:
    spark.stop()
sys.exit(0)
