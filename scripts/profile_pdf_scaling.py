#!/usr/bin/env python
"""Stage-wise profile of the PDF extraction's 8->32 scaling cell
(VERDICT r4 item 3).

Runs each prefix of the extract_pdf plan at a given core count in a
fresh JVM (child mode), min-of-N, and reports per-stage seconds plus
the partition count the final stage actually ran on, so an
AQE-coalescing starvation (few partitions << cores) is directly
visible rather than inferred.

Usage::

    python scripts/profile_pdf_scaling.py [--docs 60000] [--runs 3]
        [--set spark.key=value ...]

Parent mode fans out child invocations over (cores, stage) and prints
one JSON line per cell plus a summary table to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

STAGES = ["parse", "full"]


def build(stage: str, pages):
    """``parse``: the routed segment stage alone (parse + per-page
    geometry, line blocks out); ``full``: that plus classify and the
    url-keyed reading-order assembly."""
    from clara_ocr_spark.stages.layout import extract_pdf
    from clara_ocr_spark.stages.segment import segment

    if stage == "parse":
        return segment(pages, full_features=False, mixed=True)
    if stage != "full":
        # fail fast: a typoed stage name must not silently time the
        # full pipeline under a wrong label and skew the marginal
        # attribution table (review finding r5)
        raise ValueError(f"unknown stage: {stage!r}")
    return extract_pdf(pages)


def child(cores: int, stage: str, docs: int, runs: int,
          overrides: list[str]) -> None:
    from bench import launch
    from clara_ocr_spark.session import build_session
    from clara_ocr_spark.sources.pdfgen import ensure_pdf_corpus

    extra = dict(kv.split("=", 1) for kv in overrides)
    launch(cores)
    spark = build_session(f"pdfprof-{cores}-{stage}")
    for k, v in extra.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    path = ensure_pdf_corpus(
        os.path.join(ROOT, ".data", f"pdfs_bench_{docs}.parquet"), n=docs
    )
    pages = spark.read.parquet(path)
    df = build(stage, pages)
    sc = spark.sparkContext
    sc.setJobGroup("pdfprof-timed", stage)
    times = []
    for i in range(1 + runs):  # 1 warmup
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        if i >= 1:
            times.append(time.time() - t0)
    # Partitions the final stage actually ran on (post-AQE), read
    # from the status tracker of the LAST TIMED write itself:
    # ``df.rdd.getNumPartitions()`` would re-execute the whole
    # adaptive plan as one extra untimed job per cell (doubling
    # profiler wall-clock on the heavy prefixes) AND report a
    # separate QueryExecution that AQE may coalesce differently
    # from the runs that were timed (review finding r5).
    nparts = -1
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup("pdfprof-timed")
    if job_ids:
        info = st.getJobInfo(max(job_ids))
        if info and info.stageIds:
            si = st.getStageInfo(max(info.stageIds))
            if si:
                nparts = si.numTasks
    print(json.dumps({
        "cores": cores, "stage": stage, "docs": docs,
        "secs": round(min(times), 3), "final_partitions": nparts,
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=60000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--stages", default=",".join(STAGES))
    ap.add_argument("--set", dest="overrides", action="append", default=[])
    ap.add_argument("--child", nargs=2, metavar=("CORES", "STAGE"))
    args = ap.parse_args()

    if args.child:
        child(int(args.child[0]), args.child[1], args.docs, args.runs,
              args.overrides)
        return

    cells = {}
    stages = args.stages.split(",")
    core_list = [int(c) for c in args.cores.split(",")]
    for stage in stages:
        for cores in core_list:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--child", str(cores), stage,
                   "--docs", str(args.docs), "--runs", str(args.runs)]
            for kv in args.overrides:
                cmd += ["--set", kv]
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                raise SystemExit(1)
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            cells[(stage, cores)] = rec
            print(json.dumps(rec))
    # stage-over-stage delta table: the marginal cost each plan prefix
    # adds, per core count, plus its lo->hi efficiency
    lo, hi = core_list[0], core_list[-1]
    print(f"\n{'stage':8} {'secs@'+str(lo):>10} {'secs@'+str(hi):>10} "
          f"{'marg@'+str(lo):>10} {'marg@'+str(hi):>10} {'eff':>6} "
          f"{'parts@'+str(hi):>9}", file=sys.stderr)
    prev = {c: 0.0 for c in core_list}
    for stage in stages:
        s_lo = cells[(stage, lo)]["secs"]
        s_hi = cells[(stage, hi)]["secs"]
        m_lo, m_hi = s_lo - prev[lo], s_hi - prev[hi]
        eff = (s_lo / s_hi) / (hi / lo) if s_hi else float("nan")
        print(f"{stage:8} {s_lo:10.3f} {s_hi:10.3f} {m_lo:10.3f} "
              f"{m_hi:10.3f} {eff:6.3f} "
              f"{cells[(stage, hi)]['final_partitions']:9d}",
              file=sys.stderr)
        prev[lo], prev[hi] = s_lo, s_hi


if __name__ == "__main__":
    main()
