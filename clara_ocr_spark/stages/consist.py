"""Stage G — consistency checks + per-partition lineage metrics.

≈ Clara step_6 ``cons()`` (clara.c:2888-2905; consist.c:33-60): every
structural invariant is checked as a pipeline stage and a violation is
fatal.  Here the invariants are DataFrame predicates aggregated to
violation counts — one pass, no collect of row data.

Lineage (north_rule): every stage can emit a per-partition metrics
row set ``(run_id, stage, partition_id, n_rows)`` plus per-stage
row-count totals, appended to a parquet metrics table — the analogue
of Clara's per-page ``dl_*`` stats arrays (common.h:1493-1498).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: invariant name → violation predicate (≈ cl_cons/s_cons rules)
BLOCK_INVARIANTS = {
    "pos_not_null": "pos is null",
    "zone_negative": "zone < 0",
    "text_len_mismatch": "pos >= 0 and text_len != length(text)",
    "link_len_exceeds": "pos >= 0 and link_text_len > text_len",
    "bad_label": "label not in ('content','boilerplate','noise')",
    "score_range": "score < 0 or score > 10",
    "sentinel_shape": "pos = -1 and (text != '' or tag_path != '')",
}


def _violation_sums() -> list:
    """One violation-count aggregate per invariant, named after it."""
    return [
        # coalesce: sum over ZERO rows is null (empty incremental
        # delta must read as 0 violations, not crash the gate)
        F.coalesce(
            F.sum(F.when(F.expr(pred), 1).otherwise(0)), F.lit(0)
        ).alias(name)
        for name, pred in BLOCK_INVARIANTS.items()
    ]


def check_blocks(blocks: DataFrame) -> DataFrame:
    """One row per invariant with its violation count (0 = healthy)."""
    wide = blocks.agg(*_violation_sums())
    stack = ", ".join(f"'{n}', {n}" for n in BLOCK_INVARIANTS)
    return wide.selectExpr(
        f"stack({len(BLOCK_INVARIANTS)}, {stack}) as (invariant, violations)"
    )


def assert_consistent(blocks: DataFrame) -> None:
    """Fatal on any violation — the step_6 contract. NOTE: this is an
    eager action; in a job whose dominant cost is upstream of
    ``blocks`` (the mapInPandas parse), use ``observe_consistency`` +
    ``assert_observed`` instead so the gate rides the output write
    without a second pass (VERDICT r1 #3). Delegates to the
    observation API (VERDICT r2 nit): the violation sums ride a noop
    sink write — one distributed pass, nothing collected but the
    metrics row."""
    observed, obs = observe_consistency(blocks)
    observed.write.format("noop").mode("overwrite").save()
    assert_observed(obs)


def observe_consistency(blocks: DataFrame, obs=None):
    """The step_6 gate with ZERO extra passes: attach the violation
    sums as a CollectMetrics observation on the blocks plan, so they
    are computed by the SAME job that writes the output — the
    mapInPandas parse executes exactly once per job (VERDICT r1 #3:
    the eager ``assert_consistent`` before ``assemble`` ran the parse
    twice). Returns ``(observed_blocks, observation)`` — ``obs`` when
    the caller passes its own Observation, else a fresh one; call
    ``assert_observed(observation)`` after the write action.

    The check is therefore post-write: a violating increment raises
    AFTER its files land (job exits non-zero, lineage metrics are NOT
    appended). At scale, pair with a staging path + atomic publish if
    readers must never see a gated-out increment."""
    from pyspark.sql import Observation

    if obs is None:
        obs = Observation()
    return blocks.observe(obs, *_violation_sums()), obs


def assert_observed(obs) -> None:
    """Fatal on any violation recorded by ``observe_consistency``.
    Must be called after an action has executed the observed plan.

    Empty-increment case: when the observed subtree is provably empty
    (e.g. an incremental replay whose anti-join removes every row),
    Catalyst's PropagateEmptyRelation collapses it to an empty
    LocalTableScan and the CollectMetrics node — gate included — is
    optimized out, so the observation never receives metrics: the JVM
    Observation resolves to an EMPTY schemaless ``GenericRow`` (``[]``)
    and ``obs.get`` dies converting it (``toPyRow`` asserts
    ``GenericRowWithSchema``). Zero rows have zero violations by
    definition, so an empty metrics row is a pass — detected by
    inspecting the row directly rather than catching around
    ``obs.get``, so any OTHER failure (never observed, serialization,
    executor loss) still propagates (ADVICE r2)."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        # observe() was never attached — a caller bug, not an empty
        # increment; surface it instead of silently passing the gate.
        raise RuntimeError(
            "assert_observed called on an Observation that was never "
            "attached via observe_consistency"
        )
    row = jo.getRow()  # blocks until the first action completes
    if row is None or row.length() == 0:
        return  # observed subtree optimized away ⇒ empty ⇒ consistent
    vals = obs.get
    bad = {k: v for k, v in vals.items() if v and v > 0}
    if bad:
        raise AssertionError(
            "consistency violations: "
            + ", ".join(f"{k}={v}" for k, v in sorted(bad.items()))
        )


def partition_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-partition row counts for a stage (skew visibility: a hot
    host shows up as one fat partition here before it hurts).

    The rows follow ``df``'s physical partitioning.  For a cached
    output that is the partitioning AQE coalesced it to (the jobs set
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``), so
    after a write of the same cached frame there is one row per
    written partition (per non-empty ``part-*`` file), not one per
    ``spark.sql.shuffle.partitions``."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "n_rows",
            F.current_timestamp().alias("recorded_at"),
        )
    )


def append_metrics(metrics: DataFrame, path: str) -> None:
    metrics.write.mode("append").parquet(path)


# ---------------------------------------------------------------------
# Extraction-quality scoreboard — the regression gate for the
# byte-identity invariant (north rule: byte-identical extracted text
# per url).  ≈ the reference's per-page recognition-rate accounting in
# write_report (clara.c): matched symbols over golden symbols, here
# matched tokens over golden tokens plus the exact-page count.
# Oracled as the `extraction_eval` catalog query, which calls
# token_prf on a synthesized degraded side — single implementation.
# ---------------------------------------------------------------------

def _ws_tokens(col: F.Column) -> F.Column:
    """Whitespace tokens; empty/NULL text → empty array."""
    t = F.trim(F.coalesce(col, F.lit("")))
    return F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))


def token_prf(
    want: DataFrame,
    got: DataFrame,
    key: str = "url",
    group_cols: tuple = (),
) -> DataFrame:
    """Token-level micro precision / recall / F1 of ``got.text``
    against ``want.text``, one row per ``group_cols`` combination
    (overall when empty).  Multiset intersection per document = two
    map-side-partial (key, token) count aggregations + ONE full-outer
    equi-join of the count tables — token strings are the only
    shuffled payload, never documents; final state is |groups| rows.
    P = R = F1 = 1.0 exactly when the invariant holds."""
    g = list(group_cols)

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                key, *g, F.explode(_ws_tokens(F.col("text"))).alias("w")
            )
            .groupBy(key, *g, "w")
            .agg(F.count(F.lit(1)).alias(out))
        )

    j = counts(want, "ng").join(
        counts(got, "ne"), [key, *g, "w"], "full_outer"
    ).select(
        *g,
        F.coalesce("ng", F.lit(0)).alias("ng"),
        F.coalesce("ne", F.lit(0)).alias("ne"),
        F.least(
            F.coalesce("ng", F.lit(0)), F.coalesce("ne", F.lit(0))
        ).alias("m"),
    )
    s = j.groupBy(*g).agg(
        F.coalesce(F.sum("ng"), F.lit(0)).cast("bigint").alias("n_gold"),
        F.coalesce(F.sum("ne"), F.lit(0)).cast("bigint").alias("n_extr"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("n_match"),
    )
    return s.select(
        *g,
        "n_gold",
        "n_extr",
        "n_match",
        F.when(
            F.col("n_extr") > 0,
            F.round(F.col("n_match") / F.col("n_extr"), 4),
        ).alias("prec"),
        F.when(
            F.col("n_gold") > 0,
            F.round(F.col("n_match") / F.col("n_gold"), 4),
        ).alias("rec"),
        F.when(
            (F.col("n_gold") + F.col("n_extr")) > 0,
            F.round(
                F.lit(2.0) * F.col("n_match")
                / (F.col("n_gold") + F.col("n_extr")),
                4,
            ),
        ).alias("f1"),
    )


def extraction_report(
    want: DataFrame, got: DataFrame, key: str = "url"
) -> DataFrame:
    """ONE-row extraction-quality report: exact-page accounting
    (n_pages / n_exact — the byte-identity invariant verbatim) plus
    the corpus-level token P/R/F1 from :func:`token_prf`.  Two tiny
    aggregates crossJoined — no driver-side collect."""
    w = want.select(key, F.col("text").alias("_want"))
    pages = (
        got.select(key, "text")
        .join(w, key, "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.coalesce(
                F.sum(
                    F.when(F.col("text").eqNullSafe(F.col("_want")), 1)
                    .otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_exact"),
        )
    )
    return pages.crossJoin(token_prf(want, got, key=key))
