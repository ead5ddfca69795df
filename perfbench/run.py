#!/usr/bin/env python3
"""Job-level benchmark: runs the shipped ``spark-submit`` jobs on
seeded inputs, checks their outputs, and prints every metric by name
with its unit.  The last stdout line is one JSON object.

    python3 perfbench/run.py --workload mixed_extract --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  Load is a closed loop: one job at a
time, from one client, on ``local[nproc]``; every job runs in a fresh
process, as a user's submit does.

``--trace 0`` measures end-to-end metrics from outside the program:
job submits until ``--seconds`` have passed (at least one), each behind
the set-up probe so that it also times its own set-up.  ``--trace 1``
runs the job with the Spark event log on, times each layer by prefix in
the same process once the job is done (``layers.py``), and reduces the
job's log; it prints the per-layer metrics and the tracing overhead.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, eventlog, inputs, proctree, settings  # noqa: E402

WORK = settings.WORK
#: every child process must end by this many seconds after the start,
#: so that a run, hung or not, exits within its time limit
RUN_DEADLINE_S = 165


@dataclass(frozen=True)
class Workload:
    script: str
    flags: tuple
    curate: bool


WORKLOADS = {
    "html_extract": Workload("jobs/extract_job.py", (), False),
    "mixed_extract": Workload("jobs/extract_job.py", ("--mixed",), False),
    "curate_dups": Workload("jobs/curate_job.py", (), True),
}


@dataclass
class JobRun:
    tree: proctree.TreeRun
    problems: list
    dup_recall: float | None = None


class Bench:
    def __init__(self, name: str, seed: int):
        self.deadline = time.monotonic() + RUN_DEADLINE_S
        # byte-compile up front, as an installed package is: otherwise the
        # first job in a fresh checkout compiles in the driver and again
        # in every Python worker, inside the timed region
        for pkg in ("clara_ocr_spark", "jobs", "perfbench"):
            compileall.compile_dir(os.path.join(ROOT, pkg), quiet=1)
        self.name = name
        self.wl = WORKLOADS[name]
        self.inputs = inputs.ensure_inputs(ROOT, name, seed, settings.nproc())
        self.pages = os.path.join(self.inputs, "pages")
        self.n_docs = inputs.SIZES[name]
        self.truth = checks.truth(self.pages)
        self.env = settings.submit_env(ROOT)
        self.out = os.path.join(WORK, "run")
        self.logs = os.path.join(WORK, "logs")
        os.makedirs(self.logs, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def job_args(self) -> list:
        if self.wl.curate:
            return [
                "--input", self.pages,
                "--curated", self._path("curated"),
                "--rejects", self._path("rejects"),
                "--corpus-health", self._path("health"),
                "--metrics", self._path("metrics"),
                "--run-id", "bench",
            ]
        return [
            "--input", self.pages,
            "--output", self._path("extracted"),
            "--metrics", self._path("metrics"),
            "--run-id", "bench",
            *self.wl.flags,
        ]

    def _run(self, argv: list, log: str, ready_marker: str | None = None) -> proctree.TreeRun:
        return proctree.run_tree(
            argv,
            cwd=ROOT,
            env=self.env,
            log_path=log,
            timeout_s=max(1.0, self.deadline - time.monotonic()),
            ready_marker=ready_marker,
        )

    def layers_out(self) -> str:
        return os.path.join(WORK, "layers.json")

    def run_job(self, event_log_dir: str | None = None) -> JobRun:
        """One job submit.  Untraced, the job runs behind the set-up
        probe, whose ``READY`` line times the submit's set-up.  Traced
        (event log into ``event_log_dir``), it runs inside the layer
        timing session, whose ``JOB_DONE`` line ends the job's wall time;
        the layer timings follow in the same warm process and are written
        to ``layers_out()``."""
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        log = os.path.join(self.logs, f"{self.name}-job.log")
        job = [self.wl.script, *self.job_args()]
        if event_log_dir is None:
            argv, marker = settings.submit_argv("perfbench/setup_probe.py", job), "READY"
        else:
            if os.path.exists(self.layers_out()):
                os.remove(self.layers_out())
            args = ["--workload", self.name, "--pages", self.pages, "--out", self.layers_out()]
            if self.wl.curate:
                args += ["--curated", self._path("curated")]
            argv = settings.submit_argv("perfbench/layers.py", [*args, "--", *job], event_log_dir)
            marker = "JOB_DONE"
        tree = self._run(argv, log, marker)
        if tree.rc == 0 and tree.ready_s is None:
            return JobRun(tree, [f"job printed no {marker} line (log: {log})"])
        if tree.rc != 0:
            why = "ran out of time" if tree.timed_out else f"exited with {tree.rc}"
            return JobRun(tree, [f"job {why} (log: {log})"])
        if not self.wl.curate:
            return JobRun(tree, checks.check_extract(self.truth, self._path("extracted")))
        with open(os.path.join(self.inputs, "injected.json")) as f:
            injected = json.load(f)
        problems, reasons, recall = checks.check_curate(
            self.truth, self._path("curated"), self._path("rejects"), injected
        )
        if not problems:  # only a correct run may set the reference counts
            problems = checks.check_reasons_repeat(
                reasons, os.path.join(self.inputs, "reasons.json")
            )
        return JobRun(tree, problems, recall)

    def _untraced_path(self) -> str:
        version = inputs.generator_version(ROOT)
        return os.path.join(WORK, f"untraced-{self.name}-n{self.n_docs}-g{version}.json")

    def record_untraced(self, docs_per_s: float) -> None:
        """Keep untraced throughput per workload and size, the baseline a
        later traced run (any seed) compares against."""
        seen = self.untraced_history()
        with open(self._untraced_path(), "w") as f:
            json.dump(seen + [docs_per_s], f)

    def untraced_history(self) -> list:
        if not os.path.exists(self._untraced_path()):
            return []
        with open(self._untraced_path()) as f:
            return json.load(f)


def untraced(bench: Bench, seconds: float) -> tuple:
    """Closed loop: job submits until ``seconds`` have been spent (at
    least one, and no more than the run's time limit has room for).
    Each submit runs behind the set-up probe, so it yields a set-up time
    as well as a job time."""
    t0 = time.perf_counter()
    runs = [bench.run_job()]
    while (
        time.perf_counter() - t0 < seconds
        and bench.deadline - time.monotonic() > 1.5 * runs[-1].tree.wall_s
    ):
        runs.append(bench.run_job())
    metrics = {
        "docs_per_s": statistics.median(bench.n_docs / r.tree.wall_s for r in runs),
        "cpu_ms_per_doc": statistics.median(1000 * r.tree.cpu_s / bench.n_docs for r in runs),
        "setup_s": statistics.median(r.tree.ready_s or r.tree.wall_s for r in runs),
    }
    problems = [p for r in runs for p in r.problems]
    if not problems:
        bench.record_untraced(metrics["docs_per_s"])
    return metrics, problems, len(runs), sum(bool(r.problems) for r in runs)


def traced(bench: Bench) -> tuple:
    """A traced job run followed, in the same process, by the warm
    session's layer timings; then the event-log reduction.  The job's
    wall time ends at its ``JOB_DONE`` line.  The untraced baseline for
    the tracing overhead is the median of earlier untraced runs of this
    workload and size (any seed); when there are none, one untraced run
    is made after the traced one, in whatever time the run has left.
    A baseline cut short by that limit leaves the overhead unreported
    rather than failing the run."""
    evdir = os.path.join(WORK, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    run = bench.run_job(event_log_dir=evdir)
    problems = list(run.problems)
    attempted, failed = 1, int(bool(problems))
    metrics: dict = {}
    # application ids are ``local-<start ms>``: the job's log sorts
    # before the one the layer session's own context writes
    logs = sorted(os.listdir(evdir))
    if not run.problems and logs:
        metrics.update(
            eventlog.reduce(
                os.path.join(evdir, logs[0]),
                wall_s=run.tree.ready_s,
                input_dir=bench.pages,
                output_dir=None if bench.wl.curate else bench._path("extracted"),
                metrics_dir=bench._path("metrics"),
            )
        )
        with open(bench.layers_out()) as f:
            layers = json.load(f)
        layers.pop("prefix_s")
        metrics.update(layers)
        metrics["trace.docs_per_s"] = bench.n_docs / run.tree.ready_s
        history = bench.untraced_history()
        if not history:
            base = bench.run_job()
            if not base.problems:
                history = [bench.n_docs / base.tree.wall_s]
            elif base.tree.timed_out:
                print("untraced baseline ran out of time: overhead not measured", file=sys.stderr)
            else:
                problems += base.problems
                attempted, failed = attempted + 1, failed + 1
        if history:
            dps_untraced = statistics.median(history)
            metrics["trace.overhead_pct"] = 100 * (dps_untraced / metrics["trace.docs_per_s"] - 1)
    elif not run.problems:
        problems.append("traced run left no event log")
        failed = 1
    if run.dup_recall is not None:
        metrics["curate.dup_recall"] = run.dup_recall
    if run.tree.ready_peak_rss_mb is not None:
        metrics["proc.peak_rss_mb"] = run.tree.ready_peak_rss_mb
    return metrics, problems, attempted, failed


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [
        p
        for p in ("jobs/extract_job.py", "jobs/curate_job.py", "clara_ocr_spark/__init__.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"not a clara_ocr_spark checkout: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    # on SIGTERM, unwind so the running job's process session is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.environ["TMPDIR"] = settings.tmp_dir()
    spec = load_spec()
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    bench = Bench(args.workload, args.seed)
    if args.trace:
        measured, problems, attempted, failed = traced(bench)
    else:
        measured, problems, attempted, failed = untraced(bench, args.seconds)
    for p in problems:
        print("check failed:", p, file=sys.stderr)

    print("run:", json.dumps(settings.run_metadata(ROOT), sort_keys=True))
    print(f"workload: {args.workload} seed={args.seed} docs={bench.n_docs}")
    print(f"fail_rate: {failed / attempted:.4f} ({failed} of {attempted} runs)")
    metrics = {}
    for m in declared:
        # a layer that does not run on this workload did no work: 0
        value = measured.get(m["name"], 0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']}: {value:.6g} {m['unit']}")
    print(
        json.dumps(
            {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
