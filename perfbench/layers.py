"""Prefix-forced layer timings in one warm session, launched by
``spark-submit`` with the benchmark's launch settings.

With a job script after ``--``, the job runs first in the same process,
as ``spark-submit`` would run it (``__main__``, its own arguments), and
``JOB_DONE`` is printed when it returns, so the parent can time the job
alone.  The job stops its own session; the timings below run in a new
one on the JVM the job warmed.

Each chain builds the pipeline one public layer function at a time;
every prefix is forced with a ``noop`` write, which runs the whole plan
up to that layer and discards the rows.  A layer's time is its prefix's
time minus the previous prefix's time.  The session is warmed first
(JIT, Python workers), so the numbers describe steady-state work.

    spark-submit perfbench/layers.py --workload W --pages DIR --out FILE
        [--curated DIR] [-- SCRIPT ARG...]
"""

from __future__ import annotations

import argparse
import json
import runpy
import sys
import time

import pyspark.sql.functions as F

from clara_ocr_spark.curate import (
    CurateConfig,
    corpus_health,
    exact_dup_canonical,
    near_dup_canonical,
    quality_reason,
    text_features,
)
from clara_ocr_spark.extract_rules import LABEL_CONTENT
from clara_ocr_spark.pipeline import _is_pdf_col, read_pages
from clara_ocr_spark.stages.assemble import assemble
from clara_ocr_spark.stages.classify import classify
from clara_ocr_spark.stages.layout import extract_pdf, parse_runs
from clara_ocr_spark.stages.segment import segment
from jobs.extract_job import build_session


class Chain:
    """Times prefixes in order; ``step`` returns the built DataFrame so
    the next prefix extends it.  A prefix's time is the fastest of
    ``reps`` builds-and-forces: layers cheaper than a second are
    otherwise lost in timing noise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix_s: dict = {}
        self.jobs: dict = {}

    def step(self, name: str, build, reps: int = 3):
        self.sc.setJobGroup(name, name)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = build()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        self.prefix_s[name] = min(times)
        self.jobs[name] = len(self.sc.statusTracker().getJobIdsForGroup(name)) // reps
        return df

    def layer_s(self, name: str, prev: str) -> float:
        return self.prefix_s[name] - self.prefix_s[prev]


def warm(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dom_chain(ch: Chain, dom) -> tuple:
    """read_pages → segment → classify → assemble over the HTML rows."""
    ch.step("read", lambda: dom.select("url", "html"))
    blocks = ch.step("segment", lambda: segment(dom, full_features=False))
    labeled = ch.step("classify", lambda: classify(blocks, None))
    extracted = ch.step("assemble", lambda: assemble(labeled))
    kept, rows = labeled.agg(
        F.sum(((F.col("label") == LABEL_CONTENT) & (F.col("text") != "")).cast("long")),
        F.count(F.lit(1)),
    ).first()
    out = {
        "segment.s": ch.layer_s("segment", "read"),
        "classify.s": ch.layer_s("classify", "segment"),
        "assemble.s": ch.layer_s("assemble", "classify"),
        "segment.kept_ratio": (kept or 0) / max(rows, 1),
    }
    return out, extracted


def run_job(argv: list) -> None:
    sys.argv = list(argv)
    runpy.run_path(argv[0], run_name="__main__")
    print("JOB_DONE", flush=True)


def main() -> None:
    argv, job = sys.argv[1:], []
    if "--" in argv:
        k = argv.index("--")
        argv, job = argv[:k], argv[k + 1:]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--curated", default=None)
    args = ap.parse_args(argv)
    if job:
        run_job(job)

    spark = build_session()
    pages = read_pages(spark, args.pages)
    ch = Chain(spark)
    out: dict = {}
    if args.workload == "curate_dups":
        warm(assemble(classify(segment(pages, full_features=False), None)))
        layers, extracted = dom_chain(ch, pages)
        out.update(layers)
        # the curation chain starts from the materialized extraction, as
        # the job's own checkpoint does, so its prefixes do not re-parse
        extracted = extracted.localCheckpoint(eager=True)
        ch.step("extracted", lambda: extracted, reps=1)
        cfg = CurateConfig()
        # the curation prefixes take seconds each, so one timing each
        # keeps the traced run within its time limit
        passing = ch.step(
            "gate",
            lambda: text_features(extracted)
            .withColumn("reason", quality_reason(cfg))
            .filter(F.col("reason").isNull()),
            reps=1,
        )

        def exact_tier():
            canon = exact_dup_canonical(passing.select("url", "text"))
            return passing.join(canon, "url").filter(F.col("exact_canonical") == F.col("url"))

        representatives = ch.step("exact", exact_tier, reps=1)
        ch.step(
            "near",
            lambda: near_dup_canonical(representatives.select("url", "text"), cfg.jaccard_tau),
            reps=1,
        )
        out["curate.gate_s"] = ch.layer_s("gate", "extracted")
        out["curate.exact_dedup_s"] = ch.layer_s("exact", "gate")
        out["curate.near_dup_s"] = ch.layer_s("near", "exact")
        out["curate.near_dup_jobs"] = ch.jobs["near"]
        curated = spark.read.parquet(args.curated).select("url", "text")
        ch.step("curated", lambda: curated, reps=1)
        ch.step("health", lambda: corpus_health(curated), reps=1)
        out["curate.corpus_health_s"] = ch.layer_s("health", "curated")
    else:
        is_pdf = _is_pdf_col()
        dom, pdf = pages.filter(~is_pdf), pages.filter(is_pdf)
        warm(assemble(classify(segment(dom, full_features=False), None)))
        layers, _ = dom_chain(ch, dom)
        out.update(layers)
        if args.workload == "mixed_extract":
            warm(extract_pdf(pdf))
            ch.step("pdf_read", lambda: pdf.select("url", "html"))
            ch.step("parse", lambda: parse_runs(pdf))
            ch.step("geometry", lambda: extract_pdf(pdf))
            out["layout.parse_s"] = ch.layer_s("parse", "pdf_read")
            out["layout.geometry_s"] = ch.layer_s("geometry", "parse")
    out["prefix_s"] = ch.prefix_s
    with open(args.out, "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
