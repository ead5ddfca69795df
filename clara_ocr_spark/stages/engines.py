"""The four pattern-comparison engines + the scan-compare-argmax driver.

≈ Clara's classify meta-operator (symbol.c:3878-4384) with its engine
contract (st 1 prepare / st 2 cheap candidate filter / st 3 score 0-10;
documented symbol.c:2073-2134) and dispatcher ``selbc``
(clara.c:3074-3088). DOM analogues of the four engines
(common.h:1137-1142):

| engine | reference | DOM analogue here |
|---|---|---|
| skel  | skeleton-containment (symbol.c:3286-3775) | pattern's tag-path n-gram set must fit inside the block's: score = 10·|P∩B|/|P| |
| map   | border mapping / Hausdorff (symbol.c:2891-3145) | L∞ distance on the normalized feature vector (link/punct/stopword densities): 10·(1−max|Δ|) |
| pd    | pixel distance, graded (symbol.c:2626-2884) | graded Jaccard on n-gram sets: 10·|P∩B|/|P∪B| |
| shape | scale-to-size comparison (symbol.c:2179-2349) | scale-invariant size profile: 10·min(len)/max(len) on text lengths |

Everything is JVM column expressions over a broadcast pattern table:
the cheap filter is an equi-join on the block's own element tag (the
"discretized size feature" bucketing, symbol.c:3420-3463), scoring
runs only on candidates, and the best match per block is elected with
a deterministic argmax (score desc, fingerprint asc — ties can never
depend on partitioning). Strong/weak acceptance mirrors
strong_match/weak_match (symbol.c:4149-4153, 4230).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..extract_rules import STRONG_MATCH, WEAK_MATCH

ENGINES = ("skel", "map", "pd", "shape")

PATTERN_FEATURES_SCHEMA = (
    "fingerprint string, label string, matches bigint, "
    "p_link_density double, p_punct_ratio double, p_stopword_ratio double, "
    "p_text_len double"
)


def _path_grams(col: F.Column) -> F.Column:
    """Tag-path 2-grams as an array<string>: '' → [], single part →
    [part]."""
    parts = F.when(col == "", F.array().cast("array<string>")).otherwise(
        F.split(col, "/")
    )
    zipped = F.zip_with(
        parts,
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(1))),
        lambda a, b: F.concat(a, F.lit("/"), F.coalesce(b, F.lit(""))),
    )
    single = F.when(F.size(parts) == 1, parts)
    return F.coalesce(
        single, F.slice(zipped, 1, F.greatest(F.size(parts) - 1, F.lit(1)))
    )


def pattern_features(labeled_blocks: DataFrame) -> DataFrame:
    """st-1 prepare: enrich the fingerprint library with the per-pattern
    feature vector (≈ pskel / prepare_patterns, pattern.c:895-990) —
    mean features of the blocks that exhibit the fingerprint."""
    base = labeled_blocks.filter(
        (F.col("pos") >= 0) & (F.col("tag_path") != "")
    ).select(
        F.col("tag_path").alias("fingerprint"),
        "label",
        "link_density",
        "punct_ratio",
        "stopword_ratio",
        "text_len",
    )
    majority = (
        base.groupBy("fingerprint", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("fingerprint")
        .agg(
            F.min_by("label", F.struct((-F.col("n")).alias("neg"), "label")).alias(
                "label"
            )
        )
    )
    feats = base.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("matches"),
        F.round(F.avg("link_density"), 9).alias("p_link_density"),
        F.round(F.avg("punct_ratio"), 9).alias("p_punct_ratio"),
        F.round(F.avg("stopword_ratio"), 9).alias("p_stopword_ratio"),
        F.round(F.avg("text_len"), 9).alias("p_text_len"),
    )
    return feats.join(majority, "fingerprint")


def _engine_score(engine: str) -> F.Column:
    """st-3 score 0-10 for one (block, pattern) candidate row."""
    bg, pg = F.col("_b_grams"), F.col("_p_grams")
    inter = F.size(F.array_intersect(bg, pg)).cast("double")
    if engine == "skel":
        # pattern skeleton must fit inside the block
        return F.when(F.size(pg) == 0, F.lit(0.0)).otherwise(
            10.0 * inter / F.size(pg)
        )
    if engine == "pd":
        union = F.size(F.array_union(bg, pg)).cast("double")
        return F.when(union == 0, F.lit(0.0)).otherwise(10.0 * inter / union)
    if engine == "map":
        linf = F.greatest(
            F.abs(F.col("link_density") - F.col("p_link_density")),
            F.abs(F.col("punct_ratio") - F.col("p_punct_ratio")),
            F.abs(F.col("stopword_ratio") - F.col("p_stopword_ratio")),
        )
        return 10.0 * (1.0 - F.least(linf, F.lit(1.0)))
    if engine == "shape":
        lb = F.col("text_len").cast("double")
        lp = F.col("p_text_len")
        return F.when((lb <= 0) | (lp <= 0), F.lit(0.0)).otherwise(
            10.0 * F.least(lb, lp) / F.greatest(lb, lp)
        )
    raise ValueError(f"unknown engine: {engine} (selbc accepts {ENGINES})")


def classify_scored(
    blocks: DataFrame, patterns: DataFrame, engine: str = "skel"
) -> DataFrame:
    """Scan-compare-argmax: score every block against the candidate
    patterns with the selected engine, keep the best match, accept by
    the STRONG_MATCH / WEAK_MATCH thresholds. Adds columns
    ``pattern_label`` (null if rejected), ``best_fingerprint``,
    ``match_score``, ``match_grade``
    ('strong' | 'weak' | null). Sentinel rows (pos < 0) pass through
    unmatched."""
    if engine not in ENGINES:
        raise ValueError(f"unknown engine: {engine} (selbc accepts {ENGINES})")
    pat = F.broadcast(
        patterns.select(
            "fingerprint",
            F.col("label").alias("_p_label"),
            "p_link_density",
            "p_punct_ratio",
            "p_stopword_ratio",
            "p_text_len",
            _path_grams(F.col("fingerprint")).alias("_p_grams"),
            F.element_at(F.split(F.col("fingerprint"), "/"), -1).alias("_p_leaf"),
        )
    )
    b = blocks.withColumn("_b_grams", _path_grams(F.col("tag_path"))).withColumn(
        "_b_leaf", F.element_at(F.split(F.col("tag_path"), "/"), -1)
    )
    # st-2 cheap filter: same leaf element — bounds the fan-out the way
    # the size-clearance pre-filter bounds bitmap comparisons
    cand = b.filter(F.col("pos") >= 0).join(
        pat, F.col("_b_leaf") == F.col("_p_leaf")
    )
    scored = cand.withColumn("_score", F.round(_engine_score(engine), 6))
    w = Window.partitionBy("url", "pos").orderBy(
        F.desc("_score"), F.asc("fingerprint")
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "url",
            "pos",
            F.col("fingerprint").alias("best_fingerprint"),
            F.col("_p_label").alias("_best_label"),
            F.col("_score").alias("match_score"),
        )
    )
    out = (
        b.drop("_b_grams", "_b_leaf")
        .join(best, ["url", "pos"], "left")
        .withColumn(
            "match_grade",
            F.when(F.col("match_score") >= STRONG_MATCH, F.lit("strong"))
            .when(F.col("match_score") >= WEAK_MATCH, F.lit("weak"))
            .otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "pattern_label",
            F.when(F.col("match_score") >= STRONG_MATCH, F.col("_best_label")),
        )
        .drop("_best_label")
    )
    return out
