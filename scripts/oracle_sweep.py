"""Pre-flight replica of the driver's CORRECTNESS gate: run every
catalog query and its DuckDB oracle side-by-side at a chosen scale
(default sf0.01, the driver's) and report per-query status.

Usage:  python scripts/oracle_sweep.py [sf_dir] [--window-only]

The driver samples the FIRST 50 registrations (``DRIVER_WINDOW``);
``--window-only`` restricts the sweep to those.  Exit code 1 if any
query fails.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from clara_ocr_spark.oracle import compare, duck_connect  # noqa: E402
from clara_ocr_spark.queries import (  # noqa: E402
    DRIVER_WINDOW,
    get_oracle_sql,
    get_queries,
)
from clara_ocr_spark.session import build_session  # noqa: E402
from tests.conftest import LAUNCH  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    window_only = "--window-only" in sys.argv
    qs, sqls = get_queries(), get_oracle_sql()
    names = list(qs)
    if window_only:
        names = names[: len(DRIVER_WINDOW)]
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", LAUNCH)
    spark = build_session("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    failed = []
    for i, name in enumerate(names):
        t0 = time.monotonic()
        try:
            sql = sqls.get(name)
            if sql is None:
                n = qs[name](spark, sf_dir).count()
                status = f"rows-only ({n})"
            else:
                compare(spark, sf_dir, qs[name], sql, con=con)
                status = "ok"
        except Exception as e:  # noqa: BLE001 — sweep must finish
            status = f"FAIL {type(e).__name__}: {e}"
            failed.append(name)
        print(
            f"[{i + 1:3d}/{len(names)}] {name:28s} "
            f"{time.monotonic() - t0:6.2f}s  {status}"[:200],
            flush=True,
        )
    print(f"\n{len(names) - len(failed)}/{len(names)} green", end="")
    if failed:
        print(f"  FAILED: {failed}")
        return 1
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
