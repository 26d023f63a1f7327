"""Aggregation operators: S19-S25 (SURVEY.md §2.3).

The reference computes, per micro-batch: one global multi-aggregate summary
(reference spark_streaming.py:78-87), five grouped counts (94,131,142,154,166)
and one grouped multi-agg "occupation stats" (177-181). All compile to Spark's
partial+final HashAggregate — map-side combine means the shuffle carries one
row per (partition, key), so these scale linearly with cores, not rows.

Two API layers:
  * census-domain functions (used by the streaming pipeline, exact reference
    semantics), and
  * generic builders reused by the testdata-analogue queries in
    ``entry_queries.py``.

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


def summary_statistics(df: DataFrame) -> DataFrame:
    """S19 — one-row global summary over the enriched census batch: mean and
    stddev of age / hours_per_week / capital_income, min/max age (reference
    spark_streaming.py:78-87). Integer inputs -> scale=0 decimals are exact.
    """
    return df.agg(
        avg_exact("age", scale=0, out_alias="avg_age"),
        stddev_exact("age", scale=0, out_alias="stddev_age"),
        avg_exact("hours_per_week", scale=0, out_alias="avg_hours"),
        stddev_exact("hours_per_week", scale=0, out_alias="stddev_hours"),
        avg_exact("capital_income", scale=0, out_alias="avg_capital_income"),
        stddev_exact("capital_income", scale=0, out_alias="stddev_capital_income"),
        F.min("age").alias("min_age"),
        F.max("age").alias("max_age"),
    )


def grouped_counts(df: DataFrame, *keys: str) -> DataFrame:
    """S20-S24 — ``groupBy(keys).count()``; covers income_category (S20),
    age_group (S21), education x income (S22), gender x income (S23),
    work_hours_category (S24) — reference spark_streaming.py:94,131,142,154,
    166. Long-format output (key cols + ``count``) replaces the reference's
    dynamic Mongo keys (S17 anti-pattern, SURVEY.md §1.4)."""
    return df.groupBy(*keys).count()


def occupation_stats(df: DataFrame) -> DataFrame:
    """S25 — flagship grouped multi-agg: per-occupation avg age, avg hours,
    count (reference spark_streaming.py:177-181)."""
    return df.groupBy("occupation").agg(
        avg_exact("age", scale=0, out_alias="avg_age"),
        avg_exact("hours_per_week", scale=0, out_alias="avg_hours"),
        F.count("*").alias("count"),
    )
