#!/usr/bin/env python
"""Per-query isolation harness for the optimization rounds (guide
§1.4): times individual catalog queries with the noop sink using the
same warm-up + min-of-N discipline as ``bench.py``, and optionally
dumps ``.explain("formatted")`` plans to a directory.

``bench.py`` is FROZEN for measurement; this file exists so a single
query can be re-timed in seconds while iterating, without touching
the driver's instrument.

Usage::

    python bench_extra.py hubness_audit semdedup_cells --runs 3
    python bench_extra.py winnow_near_dup --explain plans/r06 --suffix _after
    python bench_extra.py --tail 2.0        # every query slower than 2 s
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
    os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (REGISTRY keys)")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--warmups", type=int, default=1)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name><suffix>.txt plans to")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for --explain (e.g. _before)")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import launch
    from clara_ocr_spark.queries import REGISTRY
    from clara_ocr_spark.session import build_session

    launch(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark = build_session("bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.names
    out: dict[str, float] = {}
    for name in names:
        fn, _sql = REGISTRY[name]
        df = fn(spark, args.sf_dir)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            s = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            p = os.path.join(args.explain, f"{name}{args.suffix}.txt")
            with open(p, "w") as f:
                f.write(s)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        for _ in range(args.warmups):
            _force(fn(spark, args.sf_dir))
        best = float("inf")
        for _ in range(args.runs):
            t0 = time.time()
            _force(fn(spark, args.sf_dir))
            best = min(best, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
