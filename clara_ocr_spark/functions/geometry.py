"""Rectangular→polar geometry — the ``ro`` analogue (reference
skel.c: the rect→polar conversion feeding skeleton direction
analysis; VERDICT r2 carried it as "no DOM analogue exists").

The PDF layout leg gives it an honest analogue after all: the
direction of the vector between consecutive runs on a text line IS
the page's text-flow direction, and its polar angle is the page skew
estimate — the quantity the reference's deskew geometry measures from
stroke directions. Everything here is JVM column arithmetic (atan2 /
hypot); nothing leaves codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def rect_to_polar(dx: Column, dy: Column) -> "tuple[Column, Column]":
    """(dx, dy) → (r, theta): the ``ro`` conversion as a pair of
    codegen'd expressions. theta in (−π, π], r ≥ 0."""
    return F.hypot(dx, dy), F.atan2(dy, dx)


def page_skew_angles(runs: DataFrame) -> DataFrame:
    """Per-(url, page) text-flow angle estimate in degrees.

    For each in-line consecutive run pair, the connecting vector's
    polar angle (``rect_to_polar``); the per-page estimate is the
    MEDIAN angle (robust to column jumps and isolated runs — same
    motive as the reference's voted direction histogram). A perfectly
    level page reads 0.0; rotated input reads its rotation.

    Scale shape: one window over a (url, page) partitioning and one
    aggregate on the same keys — ONE Exchange over the runs.
    """
    w = Window.partitionBy("url", "page").orderBy(
        F.desc("y"), "x", "x_end", "text"
    )
    # start-to-start vectors: both endpoints sit ON the baseline, so
    # the pair angle IS the baseline angle (an end-to-start gap vector
    # would amplify the slope by spacing/gap)
    dx = F.col("x") - F.lag("x").over(w)
    dy = F.col("y") - F.lag("y").over(w)
    # Pairs vote when their vector is flow-dominant: |dy| within a
    # ±2°-slope band of |dx| (absolute floor for kerning-sized gaps) —
    # a line break's vector (dy ≈ −leading over the carriage-return
    # dx) falls outside the band and never votes. The vector is
    # mirrored to canonical reading direction first (the y-desc scan
    # walks an upward-tilted line right-to-left), which is exactly
    # what ``ro``'s polar form makes cheap: theta of (−v) = theta ± π.
    # Domain note: like the reference's deskew, this measures SMALL
    # skews — past ~2° the reading order itself interleaves lines and
    # the estimate saturates.
    sign = F.when(dx < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    _r, theta = rect_to_polar(dx * sign, dy * sign)
    vote = F.when(
        dy.isNotNull()
        & (dx != 0)
        & (
            F.abs(dy)
            <= F.greatest(F.lit(2.0), F.lit(0.02) * F.abs(dx))
        ),
        F.degrees(theta),
    )
    return (
        runs.withColumn("_deg", vote)
        .groupBy("url", "page")
        .agg(
            F.coalesce(
                F.expr("percentile(_deg, 0.5)"), F.lit(0.0)
            ).alias("skew_deg"),
            F.count("_deg").alias("n_votes"),
        )
    )
