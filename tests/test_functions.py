"""Interval algebra tests.

Mirrors the reference's own unit-test strategy (clara-tests.c:3-96):
an independent Python oracle + exhaustive case enumeration, here as a
full sweep of every relative interval position, executed through the
Spark column expressions in one job.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F

from clara_ocr_spark.functions.intervals import intersize, py_intersize


def test_interval_algebra_exhaustive(spark):
    # every (a,b,c,d) with 0 <= a <= b <= 5, 0 <= c <= d <= 5 — covers
    # disjoint/touching/overlap/containment/identical, both orders
    cases = [
        (a, b, c, d)
        for a, b in itertools.combinations_with_replacement(range(6), 2)
        for c, d in itertools.combinations_with_replacement(range(6), 2)
    ]
    df = spark.createDataFrame(cases, "a int, b int, c int, d int")
    got = df.select(
        "a", "b", "c", "d",
        intersize(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("i"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        assert r.i == py_intersize(r.a, r.b, r.c, r.d), (r.a, r.b, r.c, r.d)


def test_interval_known_values(spark):
    rows = spark.createDataFrame(
        [(0, 2, 1, 3), (0, 1, 3, 4), (2, 2, 2, 2), (0, 5, 2, 3)],
        "a int, b int, c int, d int",
    ).select(
        intersize(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("i"),
    ).collect()
    assert [r.i for r in rows] == [2, 0, 1, 2]

