"""Output checks.  Each returns a list of problems; an empty list means
the run's outputs are correct.  Checks read the job's parquet outputs
with pyarrow, so they share nothing with the Spark code they check."""

from __future__ import annotations

import collections
import json
import os

import pyarrow.parquet as pq


def _read(path: str, columns: list) -> dict:
    t = pq.read_table(path, columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}


def truth(pages: str) -> dict:
    """url → ground-truth text (the reference extractor's output)."""
    t = _read(pages, ["url", "text"])
    return dict(zip(t["url"], t["text"]))


def check_extract(want: dict, out: str) -> list:
    """Every input url appears exactly once, with text byte-identical
    to the ground truth, and the write committed."""
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        return ["no _SUCCESS marker in the output"]
    got = _read(out, ["url", "text"])
    problems = []
    counts = collections.Counter(got["url"])
    dup = [u for u, n in counts.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} urls appear more than once, e.g. {dup[0]}")
    missing = want.keys() - counts.keys()
    if missing:
        problems.append(f"{len(missing)} input urls missing, e.g. {min(missing)}")
    extra = counts.keys() - want.keys()
    if extra:
        problems.append(f"{len(extra)} urls not in the input, e.g. {min(extra)}")
    wrong = [u for u, t in zip(got["url"], got["text"]) if u in want and want[u] != t]
    if wrong:
        problems.append(f"{len(wrong)} texts differ from the ground truth, e.g. {min(wrong)}")
    return problems


def check_curate(want: dict, curated: str, rejects: str, injected: dict) -> tuple:
    """(problems, per-reason counts, dup recall).  Curated and rejected
    urls partition the input; curated text is the ground truth; every
    exact-copy family keeps exactly one curated url."""
    problems = []
    cur = _read(curated, ["url", "text"])
    rej = _read(rejects, ["url", "reason"])
    seen = collections.Counter(cur["url"] + rej["url"])
    dup = [u for u, n in seen.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} urls are both curated and rejected or repeated")
    if seen.keys() != want.keys():
        problems.append(
            f"outputs cover {len(seen)} urls, input has {len(want)}"
            f" ({len(want.keys() - seen.keys())} missing)"
        )
    wrong = [u for u, t in zip(cur["url"], cur["text"]) if want.get(u) != t]
    if wrong:
        problems.append(f"{len(wrong)} curated texts differ from the ground truth")
    curated_urls = set(cur["url"])
    bad = [f for f in injected["exact_families"] if len(curated_urls.intersection(f)) != 1]
    if bad:
        problems.append(f"{len(bad)} exact-copy families keep other than one url, e.g. {bad[0]}")
    reasons = dict(sorted(collections.Counter(rej["reason"]).items()))
    dups = {u for u, r in zip(rej["url"], rej["reason"]) if r == "duplicate"}
    families = injected["exact_families"] + injected["near_pairs"]
    injected_copies = sum(len(f) - 1 for f in families)
    found = sum(min(len(dups.intersection(f)), len(f) - 1) for f in families)
    return problems, reasons, found / injected_copies


def check_reasons_repeat(reasons: dict, path: str) -> list:
    """Per-reason counts must repeat exactly across runs on one input:
    the first run on an input records them, later runs compare."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(reasons, f)
        os.replace(tmp, path)
        return []
    with open(path) as f:
        first = json.load(f)
    if first != reasons:
        return [f"per-reason counts {reasons} differ from an earlier run's {first}"]
    return []
