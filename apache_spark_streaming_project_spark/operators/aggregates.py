"""Aggregation operators: S19-S25 (SURVEY.md §2.3).

The reference computes, per micro-batch: one global multi-aggregate summary
(reference spark_streaming.py:78-87), five grouped counts (94,131,142,154,166)
and one grouped multi-agg "occupation stats" (177-181), each written to its
own Mongo collection. They are families of one snapshot time series, so here
one ``GROUPING SETS`` aggregate computes all of them: a single Expand +
partial/final HashAggregate over the batch, whose shuffle carries one row
per (partition, grouping set, key).

Averages/stddevs use the exact-decimal formulation from ``functions.exact``
so results are deterministic and DuckDB-oracle-comparable (SURVEY.md §7.5
risk 1: float tolerance / sample-vs-population stddev).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.functions.exact import (
    avg_exact,
    stddev_exact,
)

# family -> (grouping keys, value columns), in the column order each
# family's frame is read back with (``pipeline.read_result_table``):
#   summary_statistics      S19, with the income split of S20
#   age_group_distribution  S21
#   education_income        S22
#   gender_income           S23
#   work_hours              S24
#   occupation_stats        S25
SNAPSHOT_FAMILIES: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "summary_statistics": (
        (),
        (
            "avg_age", "stddev_age", "avg_hours", "stddev_hours",
            "avg_capital_income", "stddev_capital_income", "min_age",
            "max_age", "count_high_income", "count_low_income",
        ),
    ),
    "age_group_distribution": (("age_group",), ("count",)),
    "education_income": (("education", "income_category"), ("count",)),
    "gender_income": (("gender", "income_category"), ("count",)),
    "work_hours": (("work_hours_category",), ("count",)),
    "occupation_stats": (("occupation",), ("avg_age", "avg_hours", "count")),
}
_KEYS = list(
    dict.fromkeys(k for keys, _ in SNAPSHOT_FAMILIES.values() for k in keys)
)


def _grouping_id(keys: tuple[str, ...]) -> int:
    """``grouping_id()`` of a grouping set: the bit of each ``_KEYS``
    column (the first column is the highest bit) is set when that column
    is NOT grouped."""
    n = len(_KEYS)
    return sum(1 << (n - 1 - i) for i, k in enumerate(_KEYS) if k not in keys)


def census_snapshots(enriched: DataFrame) -> DataFrame:
    """S19-S25 — every snapshot family of one enriched batch in one long
    table: the grouping keys of all families, the union of their value
    columns, and a ``family`` column naming the row's family.

    ``family`` comes from ``grouping_id()``, never from which keys are
    NULL: a NULL occupation or education is a real group of its family,
    not a total row. The income split counts with ``count_if``, so a
    category absent from the batch counts 0, not NULL.
    """
    gid = F.grouping_id()
    family = None
    for name, (keys, _) in SNAPSHOT_FAMILIES.items():
        case = gid == _grouping_id(keys)
        family = F.when(case, name) if family is None else family.when(case, name)
    ic = F.col("income_category")
    return enriched.groupingSets(
        [list(keys) for keys, _ in SNAPSHOT_FAMILIES.values()], *_KEYS
    ).agg(
        family.alias("family"),
        F.count("*").alias("count"),
        avg_exact("age", scale=0, out_alias="avg_age"),
        stddev_exact("age", scale=0, out_alias="stddev_age"),
        avg_exact("hours_per_week", scale=0, out_alias="avg_hours"),
        stddev_exact("hours_per_week", scale=0, out_alias="stddev_hours"),
        avg_exact("capital_income", scale=0, out_alias="avg_capital_income"),
        stddev_exact("capital_income", scale=0, out_alias="stddev_capital_income"),
        F.min("age").alias("min_age"),
        F.max("age").alias("max_age"),
        F.count_if(ic == "High Income (>50K)").alias("count_high_income"),
        F.count_if(ic == "Low Income (<=50K)").alias("count_low_income"),
    )
