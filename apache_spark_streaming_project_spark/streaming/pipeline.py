"""The census streaming pipeline (M3, SURVEY.md §7.3) — parity mode.

Reference topology (reference spark_streaming.py:200-224): TWO concurrent
streaming queries on one file source, each re-reading and re-enriching every
file, fanning out to 8 MongoDB collections via driver-side ``insert_one``
loops, with no checkpoint. This engine keeps the SEMANTICS (per-batch
stateless snapshot aggregation, same 8 result families, same column math)
and fixes the physical plan (SURVEY.md §4.3):

* ONE streaming query; ``foreachBatch`` fans out to all 8 result tables from
  a single ``persist()``-ed batch (reference re-scanned the batch >= 10x).
* Sinks are partitioned parquet written by executors (``df.write``), not
  driver row loops — bulk columnar I/O instead of 1 RTT per row.
* ``checkpointLocation`` + epoch-partitioned dynamic-overwrite writes give
  exactly-once per epoch (reference: at-least-once with duplicates).
* Snapshot tables are long-format (category, count, timestamp) — the
  reference's dynamic Mongo keys (S17) flattened into proper columns.

At scale each micro-batch's aggregations are ordinary partial+final hash
aggs; the 8 sinks share one scan of the cached batch.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from apache_spark_streaming_project_spark.operators.aggregates import (
    grouped_counts,
    occupation_stats,
    summary_statistics,
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
    source_format: str = "csv"
    trigger_seconds: int | None = 10  # None -> availableNow (drain & stop)
    anomaly_threshold: float = 3.0
    max_files_per_trigger: int | None = None
    extra_sink_options: dict[str, str] = field(default_factory=dict)


def compute_result_tables(
    enriched: DataFrame, anomaly_threshold: float = 3.0
) -> dict[str, DataFrame]:
    """The 8 per-batch result tables (reference reset_database.py:18-27),
    as pure batch DataFrames over the enriched micro-batch.

    summary_statistics carries the reference's per-income-category counts as
    two fixed columns (count_high_income / count_low_income) instead of
    dynamic string keys (S17 anti-pattern -> static schema); a category
    absent from a micro-batch counts 0, not NULL (pivot emits NULL for a
    missing explicit value, which would poison downstream arithmetic).
    """
    income_counts = (
        grouped_counts(enriched, "income_category")  # the S20 operator
        .groupBy()
        .pivot(
            "income_category", ["High Income (>50K)", "Low Income (<=50K)"]
        )
        .sum("count")
        .withColumnRenamed("High Income (>50K)", "count_high_income")
        .withColumnRenamed("Low Income (<=50K)", "count_low_income")
        .na.fill(0, ["count_high_income", "count_low_income"])
    )
    summary = summary_statistics(enriched).crossJoin(
        F.broadcast(income_counts)
    )
    return {
        "summary_statistics": summary,
        "anomalies": census_hours_anomalies(enriched, anomaly_threshold),
        "age_group_distribution": grouped_counts(enriched, "age_group"),
        "education_income": grouped_counts(enriched, "education", "income_category"),
        "gender_income": grouped_counts(enriched, "gender", "income_category"),
        "work_hours": grouped_counts(enriched, "work_hours_category"),
        "occupation_stats": occupation_stats(enriched),
        "raw_data": enriched,
    }


def write_batch(
    batch_df: DataFrame,
    epoch_id: int,
    output_dir: str,
    anomaly_threshold: float = 3.0,
    sink_options: dict[str, str] | None = None,
) -> None:
    """foreachBatch body: one persist, 8 bulk parquet writes, unpersist.

    Writes are ``partitionBy(epoch_id)`` + dynamic partition overwrite, so a
    replayed epoch (post-crash restart from checkpoint) rewrites its own
    partition instead of appending duplicates — exactly-once per epoch.
    """
    from concurrent.futures import ThreadPoolExecutor

    # the emptiness guard runs on the PERSISTED frame: a pre-persist
    # isEmpty() partially re-executes the source scan, which double-counts
    # rows in the stream's observe() metrics; through the cache every
    # partition materializes (and is observed) exactly once
    enriched = enrich_census(batch_df).persist()
    try:
        if enriched.isEmpty():
            return
        snapshot_ts = F.lit(time.time()).cast("double")

        def _write(item: tuple[str, DataFrame]) -> None:
            name, table = item
            # aggregate tables carry the batch snapshot time as their
            # 'timestamp' (the reference's per-insert Mongo timestamp);
            # tables that already HAVE a timestamp column (raw_data,
            # anomalies — the S8 per-row processing time) keep it: the
            # old unconditional withColumn silently replaced that
            # TimestampType with a double, breaking trailing-window
            # reads over the result tables
            out = table
            if "timestamp" not in table.columns:
                out = out.withColumn("timestamp", snapshot_ts)
            out = out.withColumn("epoch_id", F.lit(int(epoch_id)))
            (
                out.write.mode("overwrite")
                .partitionBy("epoch_id")
                .option("partitionOverwriteMode", "dynamic")
                .options(**(sink_options or {}))
                .parquet(f"{output_dir}/{name}")
            )

        # the 8 sinks are independent reads of the SAME persisted batch —
        # submit them as concurrent jobs (Spark's scheduler interleaves
        # them) instead of paying 8 sequential job startups per epoch.
        # Pool threads start with no local properties, so each submission
        # is wrapped to carry this thread's, including the stream's job
        # group (q.stop() cancels by it). Each wrap clones the properties
        # once, and the pool threads must not share one clone, so wrap
        # per submission.
        spark = batch_df.sparkSession
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [
                pool.submit(inheritable_thread_target(spark)(_write), item)
                for item in compute_result_tables(
                    enriched, anomaly_threshold
                ).items()
            ]:
                f.result()  # propagate the first failure
    finally:
        enriched.unpersist()


def start_pipeline(spark: SparkSession, cfg: PipelineConfig) -> StreamingQuery:
    """S6 — single-query lifecycle: source -> foreachBatch fan-out; update
    output mode kept for reference fidelity (vacuous under foreachBatch —
    SURVEY.md §2.9), checkpointing on (the reference had none)."""
    stream = read_census_stream(
        spark,
        cfg.input_dir,
        cfg.source_format,
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
                df,
                epoch,
                cfg.output_dir,
                anomaly_threshold=cfg.anomaly_threshold,
                sink_options=cfg.extra_sink_options,
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
    return spark.read.parquet(f"{output_dir}/{name}")
