"""Declared schemas + testdata loaders.

The reference declares its 14-column census input schema explicitly rather
than inferring it (reference spark_streaming.py:25-40); we keep that stance —
streams REQUIRE a declared schema in Spark, and batch parquet carries its own.

Also provides loaders for the driver testdata star schema
(``/root/testdata/sf*/{region,nation,customer,supplier,part,orders,lineitem,
events,documents,embeddings}.parquet`` — TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- Census stream input contract ------------------------------------------
# 14 columns, positional binding, headerless CSV (reference
# spark_streaming.py:25-40; stream_simulator.py:41-43). All nullable.
CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("age", T.IntegerType(), True),
        T.StructField("workclass", T.StringType(), True),
        T.StructField("education", T.StringType(), True),
        T.StructField("marital_status", T.StringType(), True),
        T.StructField("occupation", T.StringType(), True),
        T.StructField("relationship", T.StringType(), True),
        T.StructField("race", T.StringType(), True),
        T.StructField("gender", T.StringType(), True),
        T.StructField("capital_gain", T.IntegerType(), True),
        T.StructField("capital_loss", T.IntegerType(), True),
        T.StructField("hours_per_week", T.IntegerType(), True),
        T.StructField("native_country", T.StringType(), True),
        T.StructField("income", T.IntegerType(), True),
        T.StructField("capital_income", T.IntegerType(), True),
    ]
)

# The 8 result tables (the reference used 8 MongoDB collections — reference
# reset_database.py:18-27), as served by ``pipeline.read_result_table``.
RESULT_TABLES = (
    "summary_statistics",
    "anomalies",
    "age_group_distribution",
    "education_income",
    "gender_income",
    "work_hours",
    "occupation_stats",
    "raw_data",
)

# The parquet directories the pipeline writes them to: the 6 aggregate
# families share one long ``snapshots`` table, told apart by its ``family``.
SINK_TABLES = ("snapshots", "anomalies", "raw_data")

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan: column pruning + predicate
    pushdown happen at the source, so callers should select/filter eagerly.

    ``events.ts`` was historically parquet TIMESTAMP(NANOS), which Spark's
    reader only surfaces as nanosecond longs
    (``spark.sql.legacy.parquet.nanosAsLong``); convert to a microsecond
    timestamp by floor-division, matching DuckDB's NANOS->micros truncation
    so oracle comparisons agree. Current testdata stores micros with
    isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ — passed
    through untouched (NTZ == DuckDB's naive TIMESTAMP semantics; callers
    must avoid LTZ-only expressions like ``unix_micros``).

    The nanosAsLong conf is set here (runtime-settable) rather than only in the
    session factory, so externally-built SparkSessions — e.g. the driver's
    correctness harness — can read ``events`` too.
    """
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
