"""Streaming file sources (S1, SURVEY.md §2.1).

The reference tails a directory of headerless CSV micro-batch files with a
declared 14-column schema and positional binding (reference
spark_streaming.py:43-46). Same built-in here (``read_census_stream``),
with the same binding: Spark's default PERMISSIVE mode reads a malformed
line's unparseable fields as nulls. Streaming file sources REQUIRE a
declared schema; this one never infers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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

