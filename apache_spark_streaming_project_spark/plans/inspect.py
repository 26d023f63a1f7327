"""Physical-plan inspection (SURVEY.md §4): capture ``explain`` output and
assert plan properties. The design contract for every operator in this
engine is not just "right answer" but "right plan" — these helpers make that
testable (filters reach the parquet scan, small sides broadcast, shuffle
counts stay at the designed minimum)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (same as ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange operators in the physical plan (AQE may later
    coalesce partitions, but the exchange boundary count is fixed at plan
    time)."""
    plan = physical_plan(df, "simple")
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df, "simple") or "BroadcastNestedLoopJoin" in physical_plan(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan."""
    plan = physical_plan(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
