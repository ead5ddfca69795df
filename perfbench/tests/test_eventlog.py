"""The event-log reducer, on a small captured log and on hand-made
events.

The fixture is the event log of one ``jobs/extract_job.py --mixed
--metrics`` run over 30 HTML pages and 20 PDFs (seed 5) with
``spark.sql.shuffle.partitions=2``, gzipped, with task-start and
environment events dropped and the checkout path replaced by
``/checkout``.
"""

import gzip
import json
import os
import shutil

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "mixed_small.eventlog.gz")
INPUT = "/checkout/.bench_work/inputs/mixed_small/pages"


@pytest.fixture(scope="module")
def log_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("evl") / "eventlog"
    with gzip.open(FIXTURE, "rb") as src, open(path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return str(path)


@pytest.fixture(scope="module")
def reduced(log_path):
    return eventlog.reduce(
        log_path,
        wall_s=60.0,
        input_dir=INPUT,
        output_dir="/checkout/.bench_work/run/extracted",
        metrics_dir="/checkout/.bench_work/run/metrics",
    )


def test_task_totals_match_the_log(log_path, reduced):
    with open(log_path) as f:
        events = [json.loads(line) for line in f]
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert reduced["spark.tasks"] == len(task_ends)
    assert reduced["spark.jobs"] == sum(e["Event"] == "SparkListenerJobStart" for e in events)
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends)
    assert reduced["spark.executor_run_s"] == pytest.approx(run_ms / 1000)
    assert 0 < reduced["spark.driver_gap_s"] < 60.0


def test_both_legs_scan_the_input_once(reduced):
    # the DOM leg and the PDF leg each scan all 50 rows
    assert reduced["sources.scan_rows"] == 100
    assert reduced["sources.scan_tasks"] >= 2
    assert reduced["sources.scan_mb"] > 0


def test_udf_nodes_map_to_layers(reduced):
    # every url leaves one sentinel row plus its blocks / runs
    assert reduced["segment.rows_out"] > 30
    assert reduced["layout.runs_out"] > 20
    for key in ("segment.to_py_mb", "segment.from_py_mb", "layout.from_py_mb", "layout.py_run_s"):
        assert reduced[key] > 0, key
    assert reduced["assemble.shuffle_write_mb"] > 0
    assert reduced["layout.shuffle_write_mb"] > 0


def test_writes_are_found_by_path(reduced):
    assert reduced["checkpoint.files"] >= 1
    assert reduced["checkpoint.write_mb"] > 0
    assert reduced["consist.lineage_s"] > 0


def test_unknown_paths_give_zero(log_path):
    out = eventlog.reduce(
        log_path, wall_s=60.0, input_dir="/nowhere", output_dir="/nowhere", metrics_dir="/nowhere"
    )
    assert out["sources.scan_rows"] == 0
    assert out["checkpoint.files"] == 0
    assert out["consist.lineage_s"] == 0


def test_covered_time_merges_overlaps():
    assert eventlog._covered_s([(0, 1000), (500, 1500), (3000, 4000), (3500, None)]) == 2.5


def test_task_skew_ignores_small_stages():
    def task(stage, ms):
        return {"Stage ID": stage, "Task Info": {"Launch Time": 0, "Finish Time": ms}}

    tasks = [task(1, 100), task(1, 100), task(1, 400), task(2, 1), task(2, 9)]
    assert eventlog._max_task_skew(tasks) == 4.0


def test_accumulator_updates_parse():
    assert eventlog._number("2000") == 2000
    assert eventlog._number(7) == 7
    assert eventlog._number("n/a") is None
    assert eventlog._number(True) is None
