"""Physical-plan inspection for plan-shape tests.

Plan tests pin how many shuffles a stage compiles to (``--deskew``'s
profile is shuffle-free) and which join operators a catalog query
uses (``spell_correct`` is an equi join, never a nested loop).  Both
need the plan as text: ``df.explain`` only prints, and the executed
plan's ``toString()`` elides scan details.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The full explain output as a string (``df.explain`` prints;
    plan assertions need the text — toString() elides scan details
    like SelectedBucketsCount)."""
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def n_exchanges(df: DataFrame) -> int:
    """Count shuffle Exchange operators in the final physical plan
    (AQE-resolved). The assertion currency of the plan tests."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Count only genuine shuffle Exchange operators: BroadcastExchange
    # is not a shuffle, and ReusedExchange re-reads an already-counted
    # one (ADVICE r2 — substring matching over-counted those).
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )
