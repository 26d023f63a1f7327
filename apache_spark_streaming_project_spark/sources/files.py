"""Streaming file sources (S1, SURVEY.md §2.1).

The reference tails a directory of headerless CSV micro-batch files with a
declared 14-column schema and positional binding (reference
spark_streaming.py:43-46). Same built-in here (``read_census_stream``), plus
a PERMISSIVE variant that routes malformed lines to a quarantine stream.
Streaming file sources REQUIRE a declared schema; neither ever infers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_spark_streaming_project_spark.schemas import CENSUS_SCHEMA


def read_census_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1 — the census stream: a directory of headerless CSV files,
    positional binding to the declared 14-col schema (reference
    spark_streaming.py:43-46). ``max_files_per_trigger`` is the
    backpressure knob the reference leaves unset (SURVEY.md §2.9) — at
    scale it bounds per-batch work so one slow trigger can't snowball."""
    reader = (
        spark.readStream.schema(CENSUS_SCHEMA)
        .format("csv")
        .option("header", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(input_dir)


def read_csv_stream_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """Malformed-input hardening for the CSV source: PERMISSIVE parsing
    with the raw text of any unparseable line captured in ``corrupt_col``.
    Returns ``(clean, quarantined)`` — two filters over ONE source scan;
    route the quarantine to a dead-letter sink instead of failing (or
    silently nulling) the pipeline. The reference would ingest a
    malformed CSV line as nulls and corrupt downstream aggregates
    (spark_streaming.py:43-46 has no malformed-row handling).

    At scale this is the difference between one bad producer poisoning a
    result table and a bounded, auditable reject stream."""
    # StructType.add mutates in place — build a fresh schema so the
    # caller's (often module-level) schema object stays untouched
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType())]
    )
    stream = (
        spark.readStream.schema(full)
        .format("csv")
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    for k, v in options.items():
        stream = stream.option(k, v)
    df = stream.load(path)
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    # the quarantine keeps the FULL row (partially-parsed fields aid
    # debugging). Note this does NOT immunize every downstream query:
    # Spark's corrupt-record restriction is enforced per-query AFTER
    # column pruning, so a consumer that references only the corrupt
    # column (e.g. quarantined.groupBy().count() pruned to it) still
    # raises QUERY_ONLY_CORRUPT_RECORD_COLUMN — such metric queries must
    # cache() the frame or also reference a data column, per the Spark
    # docs for columnNameOfCorruptRecord
    quarantined = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantined
