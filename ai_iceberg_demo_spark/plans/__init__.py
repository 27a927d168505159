"""Physical-plan inspection — the engine's scale-contract tooling.

The reference has no optimizer to inspect (SURVEY.md §4); in this
engine the physical plan IS the performance contract, so it gets
first-class access: `explain_str` returns the plan text that
`tests/test_plans.py` reads to pin the shapes that must survive a
1000-executor scale-up: broadcast dimension joins, pushed filters,
pruned scans, map-side partial aggregates, TakeOrderedAndProject
top-k, whole-stage codegen, no cartesian fallbacks, no shuffle on
bucketed co-located joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string `df.explain(mode)` prints, returned instead."""
    spark = df.sparkSession
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)  # type: ignore[union-attr]
    return df._jdf.queryExecution().explainString(jmode)  # type: ignore[attr-defined]

