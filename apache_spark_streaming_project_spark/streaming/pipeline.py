"""The census streaming pipeline (M3, SURVEY.md §7.3) — parity mode.

Reference topology (reference spark_streaming.py:200-224): TWO concurrent
streaming queries on one file source, each re-reading and re-enriching every
file, fanning out to 8 MongoDB collections via driver-side ``insert_one``
loops, with no checkpoint. This engine keeps the SEMANTICS (per-batch
stateless snapshot aggregation, same 8 result families, same column math)
and fixes the physical plan (SURVEY.md §4.3):

* ONE streaming query; ``foreachBatch`` writes THREE sinks from a single
  ``persist()``-ed batch (reference re-scanned the batch >= 10x):
  ``snapshots`` (the 6 aggregate families, from one grouping-sets
  aggregate), ``anomalies`` and ``raw_data`` — the reference's 8 families.
* Sinks are partitioned parquet written by executors (``df.write``), not
  driver row loops — bulk columnar I/O instead of 1 RTT per row.
* ``checkpointLocation`` + epoch-partitioned dynamic-overwrite writes give
  exactly-once per epoch (reference: at-least-once with duplicates).
* Snapshot families are long-format (category, count, timestamp) — the
  reference's dynamic Mongo keys (S17) flattened into proper columns.
  ``read_result_table`` serves each of the 8 families as its own frame.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from apache_spark_streaming_project_spark.operators.aggregates import (
    SNAPSHOT_FAMILIES,
    census_snapshots,
)
from apache_spark_streaming_project_spark.operators.anomaly import (
    census_hours_anomalies,
)
from apache_spark_streaming_project_spark.operators.enrich import enrich_census
from apache_spark_streaming_project_spark.sources import read_census_stream


@dataclass
class PipelineConfig:
    input_dir: str
    output_dir: str
    checkpoint_dir: str
    trigger_seconds: int | None = 10  # None -> availableNow (drain & stop)
    anomaly_threshold: float = 3.0
    max_files_per_trigger: int | None = None


def compute_result_tables(
    enriched: DataFrame, anomaly_threshold: float = 3.0
) -> dict[str, DataFrame]:
    """The 3 per-batch sink tables (``schemas.SINK_TABLES``), as pure batch
    DataFrames over the enriched micro-batch; together they hold the
    reference's 8 result families (reference reset_database.py:18-27)."""
    return {
        "snapshots": census_snapshots(enriched),
        "anomalies": census_hours_anomalies(enriched, anomaly_threshold),
        "raw_data": enriched,
    }


def write_batch(
    batch_df: DataFrame,
    epoch_id: int,
    output_dir: str,
    anomaly_threshold: float = 3.0,
) -> None:
    """foreachBatch body: one persist, 3 bulk parquet writes, unpersist.

    Writes are ``partitionBy(epoch_id)`` + dynamic partition overwrite, so a
    replayed epoch (post-crash restart from checkpoint) rewrites its own
    partition instead of appending duplicates — exactly-once per epoch.
    They run one after another on the stream's thread, so every write
    carries the stream's job group (q.stop() cancels by it).
    """
    # the emptiness guard runs on the PERSISTED frame: a pre-persist
    # isEmpty() partially re-executes the source scan, which double-counts
    # rows in the stream's observe() metrics; through the cache every
    # partition materializes (and is observed) exactly once
    enriched = enrich_census(batch_df).persist()
    try:
        if enriched.isEmpty():
            return
        snapshot_ts = F.lit(time.time()).cast("double")
        for name, table in compute_result_tables(enriched, anomaly_threshold).items():
            # snapshots carry the batch snapshot time as their 'timestamp'
            # (the reference's per-insert Mongo timestamp); raw_data and
            # anomalies keep their own TimestampType column (the S8
            # per-row processing time) for trailing-window reads
            if "timestamp" not in table.columns:
                table = table.withColumn("timestamp", snapshot_ts)
            (
                table.withColumn("epoch_id", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .partitionBy("epoch_id")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(f"{output_dir}/{name}")
            )
    finally:
        enriched.unpersist()


def start_pipeline(spark: SparkSession, cfg: PipelineConfig) -> StreamingQuery:
    """S6 — single-query lifecycle: source -> foreachBatch sinks; update
    output mode kept for reference fidelity (vacuous under foreachBatch —
    SURVEY.md §2.9), checkpointing on (the reference had none)."""
    stream = read_census_stream(
        spark,
        cfg.input_dir,
        max_files_per_trigger=cfg.max_files_per_trigger,
    )
    # per-batch operational metrics via the Observation API: surfaced in
    # every StreamingQueryProgress (progress["observedMetrics"]["census_in"])
    # and to any StreamingQueryListener — zero extra jobs, the metrics ride
    # the existing batch execution. The reference exposes no metrics at all.
    stream = stream.observe(
        "census_in",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("hours_per_week").cast("long")).alias("total_hours"),
    )
    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, epoch: write_batch(
                df, epoch, cfg.output_dir, anomaly_threshold=cfg.anomaly_threshold
            )
        )
        .option("checkpointLocation", cfg.checkpoint_dir)
    )
    if cfg.trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.trigger_seconds} seconds")
    return writer.start()


def run_available_now(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Deterministic test mode: drain everything currently in the input dir,
    then stop (replaces the reference's SIGINT-driven lifecycle for tests).
    On any exception during the wait it stops the query it started and
    re-raises, as ``entry_queries._drain`` does."""
    cfg = PipelineConfig(**{**cfg.__dict__, "trigger_seconds": None})
    q = start_pipeline(spark, cfg)
    try:
        q.awaitTermination()
    except BaseException:
        q.stop()
        raise


def read_result_table(spark: SparkSession, output_dir: str, name: str) -> DataFrame:
    """One of the 8 result families (``schemas.RESULT_TABLES``) across all
    epochs. The 6 aggregate families are the ``family`` rows of the
    ``snapshots`` sink, with that family's columns."""
    if name not in SNAPSHOT_FAMILIES:
        return spark.read.parquet(f"{output_dir}/{name}")
    keys, values = SNAPSHOT_FAMILIES[name]
    return (
        spark.read.parquet(f"{output_dir}/snapshots")
        .filter(F.col("family") == name)
        .select(*keys, *values, "timestamp", "epoch_id")
    )
