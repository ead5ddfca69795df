"""Reduce a Spark event log (uncompressed JSON lines) to per-layer
numbers.

SQL plan nodes are found in every plan version an execution publishes
(the initial plan and each adaptive re-plan).  Each node metric is an
accumulator; tasks report per-task deltas of those accumulators, so a
node's total is the sum of its accumulators' task updates (plus any
driver-side updates), and a stage runs a node exactly when its tasks
update one of the node's accumulators.  Layers are tagged on plan
nodes: a ``MapInPandas`` node belongs to a layer by the name of its
Python function.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

#: MapInPandas function name → layer
UDF_LAYERS = {"_segment_batches": "segment", "_parse_batches": "layout"}

MB = 2**20


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict  # metric name → accumulator id
    meta: dict
    children: list = field(default_factory=list)
    parent: "Node | None" = None

    def udf_layer(self) -> str | None:
        if not self.name.startswith("MapInPandas"):
            return None
        for fn, layer in UDF_LAYERS.items():
            if f"MapInPandas {fn}(" in self.desc:
                return layer
        return None


def _tree(info: dict, parent: Node | None = None) -> Node:
    node = Node(
        name=info["nodeName"],
        desc=info["simpleString"],
        metrics={m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        meta=info.get("metadata", {}),
        parent=parent,
    )
    node.children = [_tree(c, node) for c in info.get("children", [])]
    return node


def _walk(node: Node):
    yield node
    for c in node.children:
        yield from _walk(c)


@dataclass
class Log:
    plans: list  # (execution id, root Node), every plan version
    exec_times: dict  # execution id → [start ms, end ms]
    jobs: list  # (submit ms, end ms)
    stages: int
    tasks: list  # TaskEnd events
    acc_total: dict  # accumulator id → summed updates
    acc_stages: dict  # accumulator id → set of stage ids updating it


def _number(v) -> int | float | None:
    """Accumulator updates: numbers for task metrics, decimal strings
    for SQL metrics, anything else for the rest."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            return None
    return None


def parse(path: str) -> Log:
    plans, exec_times, jobs, tasks = [], {}, {}, []
    stages = 0
    acc_total: dict = {}
    acc_stages: dict = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                plans.append((e["executionId"], _tree(e["sparkPlanInfo"])))
                if kind == "SparkListenerSQLExecutionStart":
                    exec_times[e["executionId"]] = [e["time"], None]
            elif kind == "SparkListenerSQLExecutionEnd":
                exec_times[e["executionId"]][1] = e["time"]
            elif kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = [e["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
                for a in e["Task Info"].get("Accumulables", []):
                    update = _number(a.get("Update"))
                    if update is not None:
                        acc_total[a["ID"]] = acc_total.get(a["ID"], 0) + update
                        acc_stages.setdefault(a["ID"], set()).add(e["Stage ID"])
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    acc_total[acc_id] = acc_total.get(acc_id, 0) + value
    return Log(plans, exec_times, list(jobs.values()), stages, tasks, acc_total, acc_stages)


def _nodes(log: Log):
    """Every distinct plan node, once per accumulator set (plan versions
    repeat nodes; cached subplans repeat inside later executions)."""
    seen = set()
    for _, root in log.plans:
        for n in _walk(root):
            key = (n.name, tuple(sorted(n.metrics.values())))
            if n.metrics and key not in seen:
                seen.add(key)
                yield n


def _metric(log: Log, nodes, name: str) -> float:
    return sum(log.acc_total.get(n.metrics[name], 0) for n in nodes if name in n.metrics)


def _exchanges_above(node: Node, stop_at_first: bool) -> list:
    """Shuffle exchanges on the path from ``node`` up to the first
    ``Union`` (where the two extraction legs meet) or the root."""
    out = []
    p = node.parent
    while p is not None and not p.name.startswith("Union"):
        if p.name == "Exchange":
            out.append(p)
            if stop_at_first:
                break
        p = p.parent
    return out


def _is_write_to(node: Node, path_fragment: str) -> bool:
    return (
        node.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
        and path_fragment in node.desc
    )


def _span_s(log: Log, path_fragment: str) -> float:
    """Summed wall time (s) of the SQL executions that write a path
    containing ``path_fragment``."""
    eids = {
        eid for eid, root in log.plans if any(_is_write_to(n, path_fragment) for n in _walk(root))
    }
    return sum(
        (end - start) / 1000
        for eid, (start, end) in log.exec_times.items()
        if eid in eids and end is not None
    )


def _writes(log: Log, path_fragment: str) -> list:
    return [n for n in _nodes(log) if _is_write_to(n, path_fragment)]


def _covered_s(intervals: list) -> float:
    total, cur_end = 0.0, None
    for start, end in sorted(i for i in intervals if i[1] is not None):
        if cur_end is None or start > cur_end:
            total += end - start
            cur_end = end
        elif end > cur_end:
            total += end - cur_end
            cur_end = end
    return total / 1000


def _max_task_skew(tasks: list) -> float:
    """max/median task time in the worst stage, among stages holding at
    least 5 % of all task time (tiny stages have meaningless ratios)."""
    by_stage: dict = {}
    for t in tasks:
        info = t["Task Info"]
        by_stage.setdefault(t["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
    total = sum(sum(v) for v in by_stage.values()) or 1
    worst = 1.0
    for times in by_stage.values():
        if len(times) >= 2 and sum(times) >= 0.05 * total:
            worst = max(worst, max(times) / max(statistics.median(times), 1))
    return worst


def reduce(path: str, *, wall_s: float, input_dir: str, output_dir: str | None, metrics_dir: str) -> dict:
    """Per-layer metrics of one traced job run.  ``wall_s`` is the job's
    process wall time; the directories identify the input scan and the
    output and lineage writes."""
    log = parse(path)
    tm = [t.get("Task Metrics") or {} for t in log.tasks]

    def tsum(key, sub=None):
        return sum((m.get(sub) or {}).get(key, 0) if sub else m.get(key, 0) for m in tm)

    out = {
        "spark.jobs": len(log.jobs),
        "spark.stages": log.stages,
        "spark.tasks": len(log.tasks),
        "spark.executor_run_s": tsum("Executor Run Time") / 1000,
        "spark.executor_cpu_s": tsum("Executor CPU Time") / 1e9,
        "spark.gc_s": tsum("JVM GC Time") / 1000,
        "spark.shuffle_write_mb": tsum("Shuffle Bytes Written", "Shuffle Write Metrics") / MB,
        "spark.shuffle_records": tsum("Shuffle Records Written", "Shuffle Write Metrics"),
        "spark.spill_mb": tsum("Disk Bytes Spilled") / MB,
        "spark.max_task_skew": _max_task_skew(log.tasks),
        "spark.driver_gap_s": wall_s - _covered_s(log.jobs),
    }

    nodes = list(_nodes(log))
    scans = [
        n
        for n in nodes
        if n.name.startswith("Scan parquet") and input_dir in n.meta.get("Location", "")
    ]
    scan_stages = set()
    for n in scans:
        for acc in n.metrics.values():
            scan_stages |= log.acc_stages.get(acc, set())
    out["sources.scan_mb"] = _metric(log, scans, "size of files read") / MB
    out["sources.scan_rows"] = _metric(log, scans, "number of output rows")
    out["sources.scan_tasks"] = sum(t["Stage ID"] in scan_stages for t in log.tasks)

    by_layer: dict = {}
    for n in nodes:
        layer = n.udf_layer()
        if layer:
            by_layer.setdefault(layer, []).append(n)
    for layer, udfs in by_layer.items():
        out[f"{layer}.py_start_s"] = _metric(log, udfs, "time to start Python workers") / 1000
        out[f"{layer}.py_init_s"] = _metric(log, udfs, "time to initialize Python workers") / 1000
        out[f"{layer}.py_run_s"] = _metric(log, udfs, "time to run Python workers") / 1000
        out[f"{layer}.to_py_mb"] = _metric(log, udfs, "data sent to Python workers") / MB
        out[f"{layer}.from_py_mb"] = _metric(log, udfs, "data returned from Python workers") / MB
        rows_key = "segment.rows_out" if layer == "segment" else "layout.runs_out"
        out[rows_key] = _metric(log, udfs, "number of output rows")
        # the assemble groupBy is the first shuffle above the DOM parse;
        # the layout leg's window and line shuffles all sit below the union
        # (keyed by accumulator: plan versions repeat the same exchange)
        exchanges = {
            x.metrics.get("shuffle bytes written"): x
            for u in udfs
            for x in _exchanges_above(u, stop_at_first=layer == "segment")
        }
        shuffle_mb = _metric(log, exchanges.values(), "shuffle bytes written") / MB
        out["assemble.shuffle_write_mb" if layer == "segment" else "layout.shuffle_write_mb"] = shuffle_mb

    if output_dir is not None:
        writes = _writes(log, output_dir)
        commit_ms = _metric(log, writes, "task commit time") + _metric(log, writes, "job commit time")
        out["checkpoint.write_s"] = commit_ms / 1000
        out["checkpoint.write_mb"] = _metric(log, writes, "written output") / MB
        out["checkpoint.files"] = _metric(log, writes, "number of written files")
    out["consist.lineage_s"] = _span_s(log, metrics_dir)
    return out
