"""Pattern library: bootstrap, growth (bf_auto), and the two-pass
classify structure.

≈ Clara's "book font": ``pdesc`` entries (common.h:937-965), automatic
pattern insertion for unmatched well-sized symbols (``bf_auto``,
clara.c:3135-3147, ``update_pattern``) and the PNT1→PNT2 two-pass
relaxation (symbol.c:4210-4219).

Pattern-library growth during a run is a sequential dependency, so it
is batched (SURVEY §7 hard-part 3): classify-all with the current
library → derive new patterns from unmatched blocks as ONE aggregate →
union into the library → optional second classify pass.  The library
stays small (distinct tag paths), so it broadcasts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..extract_rules import MIN_TEXT_LEN

PATTERNS_SCHEMA = "fingerprint string, label string, matches bigint"


def grow_patterns(
    labeled_blocks: DataFrame,
    patterns: DataFrame | None,
    min_support: int = 3,
) -> DataFrame:
    """Derive new patterns from blocks the library did not match.

    A tag path becomes a pattern when it was seen ≥ ``min_support``
    times on well-sized blocks (≈ sdim gate, clara.c:1557) and its
    heuristic labels agree by strict majority; the majority label with
    deterministic tie-break (label asc) is stored.  Returns the grown
    library (existing entries win on conflict — acts-over-shape
    precedence)."""
    candidates = labeled_blocks.filter(
        F.col("pattern_label").isNull()
        & (F.col("pos") >= 0)
        & (F.col("text_len") >= MIN_TEXT_LEN)
        & (F.col("tag_path") != "")
    )
    by_label = candidates.groupBy("tag_path", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = (
        by_label.groupBy("tag_path")
        .agg(
            # majority label, ties broken by label asc: min_by over
            # (-n, label) is a strict total order
            F.min_by("label", F.struct((-F.col("n")).alias("neg"), "label")).alias(
                "label"
            ),
            F.sum("n").alias("matches"),
            F.max("n").alias("top_n"),
        )
        .filter((F.col("matches") >= min_support) & (F.col("top_n") * 2 > F.col("matches")))
        .select(
            F.col("tag_path").alias("fingerprint"), "label", "matches"
        )
    )
    if patterns is None:
        return best
    existing = patterns.select("fingerprint", "label", "matches")
    new_only = best.join(
        existing.select("fingerprint"), "fingerprint", "left_anti"
    )
    return existing.unionByName(new_only)


#: pattern-edit acts (reference ``review_patt``, revision.c:359-397 +
#: REV_PATT dispatch revision.c:659-660): a human edits the pattern
#: library itself — ``update_pattern(-1, a->tr, ...)`` changes the
#: class transliteration (upserting the pattern when absent), and the
#: SHAPE votes of every symbol in the class are resubmitted, i.e. the
#: edit propagates to all blocks classified by that fingerprint on the
#: next classify pass.  ``label NULL`` retires the pattern (removes a
#: bogus auto-grown entry, the bf_auto eraser).
PATT_ACTS_SCHEMA = (
    "act_id bigint, fingerprint string, label string, "
    "reviewer_type string, submitted_at timestamp"
)


def apply_pattern_acts(patterns: DataFrame, pacts: DataFrame) -> DataFrame:
    """Apply human pattern-library edits (≈ review_patt).

    Election per fingerprint is the same strict total order as label
    acts (stages/feedback.py): reviewer privilege desc, submitted_at
    desc, act_id desc — deterministic and idempotent, the ``review``
    reapplication property.  The winning act then:

    * label non-NULL, fingerprint in library  → override the label
      (``update_pattern`` transliteration change; ``matches`` kept);
    * label non-NULL, fingerprint NOT in library → insert with
      ``matches = 0`` (the ``cdfc = -1`` insert path);
    * label NULL → retire the pattern entirely.

    "Resubmitting the SHAPE votes" needs no extra pass here: the
    library is re-broadcast to ``classify``, so every block of the
    class picks up the edited label on the next classification.

    Scale shape: the acts log and the library are both human/
    dictionary-scale (distinct tag paths) — orders of magnitude below
    the corpus — so the election window partitions by fingerprint
    (high-cardinality, no skew) and the apply is a full-outer
    sort-merge join on fingerprint (full outer admits no broadcast
    build in Spark; at library scale the shuffle is trivial, and the
    result broadcasts into ``classify`` where corpus-scale cost would
    actually arise)."""
    from .feedback import REVIEWER_RANK

    priv = F.coalesce(
        *[
            F.when(F.col("reviewer_type") == k, F.lit(v))
            for k, v in REVIEWER_RANK.items()
        ],
        F.lit(0),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("priv"), F.desc("submitted_at"), F.desc("act_id")
    )
    elected = (
        pacts.withColumn("priv", priv)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("fingerprint").alias("_ef"),
            F.col("label").alias("_elabel"),
        )
    )
    j = patterns.join(
        elected,  # full outer: no broadcast build exists — hint would be
        patterns["fingerprint"] == elected["_ef"],  # silently ignored
        "full_outer",
    )
    edited = j.filter(
        # retire: an elected NULL label kills the row; rows never
        # touched by an act (_ef NULL) pass through
        F.col("_ef").isNull() | F.col("_elabel").isNotNull()
    ).select(
        F.coalesce("fingerprint", "_ef").alias("fingerprint"),
        F.coalesce("_elabel", "label").alias("label"),
        F.coalesce("matches", F.lit(0)).cast("bigint").alias("matches"),
    )
    return edited


def bootstrap_patterns(spark, rows: list[tuple[str, str]]) -> DataFrame:
    """Seed library from (fingerprint, label) pairs (≈ recover_patterns)."""
    return spark.createDataFrame(
        [(fp, lb, 0) for fp, lb in rows], PATTERNS_SCHEMA
    )
