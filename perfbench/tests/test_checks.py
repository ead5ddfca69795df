"""The output checks accept a correct output and reject corrupted ones.
Pure pyarrow: no Spark session needed.

    python3 -m pytest perfbench/tests
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks

PAGES = {"u1": "alpha beta", "u2": "", "u3": "gamma delta epsilon"}


def _write(path, cols, success=True):
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def _out(tmp_path, rows, success=True):
    return _write(
        str(tmp_path / "out"),
        {"url": [u for u, _ in rows], "text": [t for _, t in rows]},
        success,
    )


def test_extract_accepts_correct_output(tmp_path):
    assert checks.check_extract(PAGES, _out(tmp_path, PAGES.items())) == []


@pytest.mark.parametrize(
    "rows, success, expect",
    [
        ([("u1", "alpha beta!"), ("u2", ""), ("u3", "gamma delta epsilon")], True, "differ"),
        ([("u1", "alpha beta"), ("u3", "gamma delta epsilon")], True, "missing"),
        (list(PAGES.items()) + [("u1", "alpha beta")], True, "more than once"),
        (list(PAGES.items()) + [("u9", "")], True, "not in the input"),
        (list(PAGES.items()), False, "_SUCCESS"),
    ],
)
def test_extract_rejects_corrupted_output(tmp_path, rows, success, expect):
    problems = checks.check_extract(PAGES, _out(tmp_path, rows, success))
    assert any(expect in p for p in problems), problems


CORPUS = {
    "https://a/1": "one two three four five six",
    "https://m.a/1": "one two three four five six",
    "https://a/2": "seven eight nine ten eleven twelve",
    "https://a/3": "x",
}
INJECTED = {
    "exact_families": [["https://a/1", "https://m.a/1"]],
    "near_pairs": [],
    "near_empty": ["https://a/3"],
}


def _curate_out(tmp_path, curated, rejected):
    cur = _write(
        str(tmp_path / "cur"),
        {"url": curated, "text": [CORPUS[u] for u in curated]},
    )
    rej = _write(
        str(tmp_path / "rej"),
        {"url": [u for u, _ in rejected], "reason": [r for _, r in rejected]},
    )
    return cur, rej


def test_curate_accepts_partition(tmp_path):
    cur, rej = _curate_out(
        tmp_path,
        ["https://a/1", "https://a/2"],
        [("https://m.a/1", "duplicate"), ("https://a/3", "too_short")],
    )
    problems, reasons, recall = checks.check_curate(CORPUS, cur, rej, INJECTED)
    assert problems == []
    assert reasons == {"duplicate": 1, "too_short": 1}
    assert recall == 1.0


def test_curate_rejects_family_kept_twice(tmp_path):
    cur, rej = _curate_out(
        tmp_path,
        ["https://a/1", "https://m.a/1", "https://a/2"],
        [("https://a/3", "too_short")],
    )
    problems, _, recall = checks.check_curate(CORPUS, cur, rej, INJECTED)
    assert any("families" in p for p in problems), problems
    assert recall == 0.0


def test_curate_rejects_lost_and_doubled_urls(tmp_path):
    cur, rej = _curate_out(
        tmp_path,
        ["https://a/1", "https://a/2"],
        [("https://a/2", "too_short"), ("https://m.a/1", "duplicate")],
    )
    problems, _, _ = checks.check_curate(CORPUS, cur, rej, INJECTED)
    assert any("both curated and rejected" in p for p in problems), problems
    assert any("missing" in p for p in problems), problems


def test_reason_counts_must_repeat(tmp_path):
    path = str(tmp_path / "reasons.json")
    assert checks.check_reasons_repeat({"duplicate": 3}, path) == []
    assert checks.check_reasons_repeat({"duplicate": 3}, path) == []
    assert checks.check_reasons_repeat({"duplicate": 2}, path) != []
