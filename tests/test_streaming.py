"""End-to-end streaming tests (SURVEY.md §5.2 layer 3): replicate the
simulator contract against tmp dirs, drain with availableNow, and assert the
8 result tables match batch-computed expectations — including that injected
hour anomalies surface in the anomalies table with z > 3."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.schemas import RESULT_TABLES, SINK_TABLES
from apache_spark_streaming_project_spark.streaming import simulator
from apache_spark_streaming_project_spark.streaming.pipeline import (
    PipelineConfig,
    read_result_table,
    run_available_now,
)
from apache_spark_streaming_project_spark.streaming.reset import reset_results


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    input_dir = str(root / "input")
    output_dir = str(root / "output")
    checkpoint = str(root / "checkpoint")
    n = simulator.generate_batches(input_dir, total_rows=200, seed=7)
    cfg = PipelineConfig(
        input_dir=input_dir,
        output_dir=output_dir,
        checkpoint_dir=checkpoint,
        trigger_seconds=None,
    )
    run_available_now(spark, cfg)
    return {"cfg": cfg, "n_rows": n, "output_dir": output_dir}


def test_all_result_tables_written(spark, pipeline_run):
    for name in RESULT_TABLES:
        df = read_result_table(spark, pipeline_run["output_dir"], name)
        assert df.count() > 0, f"result table {name} is empty"
        assert "timestamp" in df.columns
        assert "epoch_id" in df.columns


def test_raw_data_passthrough_complete(spark, pipeline_run):
    raw = read_result_table(spark, pipeline_run["output_dir"], "raw_data")
    assert raw.count() == pipeline_run["n_rows"]  # S4: every input row persisted
    # enrichment columns present with reference semantics
    assert {"age_group", "income_category", "work_hours_category",
            "capital_income_category"} <= set(raw.columns)
    bad = raw.filter(
        (F.col("hours_per_week") == 20) & (F.col("work_hours_category") != "Full-time (20-40)")
    ).count()
    assert bad == 0


def test_snapshot_counts_match_raw(spark, pipeline_run):
    """Per-epoch grouped counts must equal recomputing them from raw_data —
    the snapshot-per-batch semantics the reference defines."""
    out = pipeline_run["output_dir"]
    raw = read_result_table(spark, out, "raw_data")
    age = read_result_table(spark, out, "age_group_distribution")
    expect = {
        (r.epoch_id, r.age_group): r["count"]
        for r in raw.groupBy("epoch_id", "age_group").count().collect()
    }
    got = {(r.epoch_id, r.age_group): r["count"] for r in age.collect()}
    assert got == expect


def test_injected_anomalies_detected(spark, pipeline_run):
    """G2 -> S13: batches containing an injected extreme hours value whose
    batch z-score exceeds 3 must appear in the anomalies table."""
    out = pipeline_run["output_dir"]
    anomalies = read_result_table(spark, out, "anomalies")
    rows = anomalies.collect()
    assert len(rows) > 0, "no anomalies detected despite 5% injection rate"
    for r in rows:
        assert r.anomaly_type == "hours_outlier"
        # z>3 is the whole contract: non-injected rows can legitimately
        # be batch outliers too, so membership in ANOMALY_HOURS is NOT
        # asserted (an earlier draft had it neutered with `or True`)
        assert r.hours_z_score > 3
    # every anomaly must be a genuine row of its batch
    raw = read_result_table(spark, out, "raw_data")
    raw_keys = {
        (r.epoch_id, r.age, r.occupation, r.hours_per_week)
        for r in raw.collect()
    }
    for r in rows:
        assert (r.epoch_id, r.age, r.occupation, r.hours_per_week) in raw_keys


def test_summary_statistics_schema_and_consistency(spark, pipeline_run):
    out = pipeline_run["output_dir"]
    summary = read_result_table(spark, out, "summary_statistics")
    cols = set(summary.columns)
    assert {
        "avg_age", "stddev_age", "avg_hours", "stddev_hours",
        "avg_capital_income", "stddev_capital_income", "min_age", "max_age",
        "count_high_income", "count_low_income",
    } <= cols
    raw = read_result_table(spark, out, "raw_data")
    n_epochs = raw.select("epoch_id").distinct().count()
    assert summary.count() == n_epochs  # one snapshot row per micro-batch
    # income split adds up to batch size per epoch
    per_epoch = {r.epoch_id: r for r in summary.collect()}
    sizes = {r.epoch_id: r["count"] for r in raw.groupBy("epoch_id").count().collect()}
    for eid, srow in per_epoch.items():
        # counts are 0, never NULL, when a category is absent (round-7
        # self-review: the pivot's NULL would poison downstream arithmetic)
        assert srow.count_high_income is not None
        assert srow.count_low_income is not None
        assert srow.count_high_income + srow.count_low_income == sizes[eid]


def test_exactly_once_on_restart(spark, pipeline_run, tmp_path_factory):
    """Re-running the drained pipeline must not duplicate any output
    (checkpoint offsets + epoch-partitioned overwrite)."""
    cfg = pipeline_run["cfg"]
    raw_before = read_result_table(spark, cfg.output_dir, "raw_data").count()
    run_available_now(spark, cfg)
    raw_after = read_result_table(spark, cfg.output_dir, "raw_data").count()
    assert raw_after == raw_before


def test_reset_utility(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("reset")
    input_dir, output_dir, ckpt = (
        str(root / "in"), str(root / "out"), str(root / "ckpt")
    )
    simulator.generate_batches(input_dir, total_rows=20, seed=1)
    cfg = PipelineConfig(
        input_dir=input_dir, output_dir=output_dir, checkpoint_dir=ckpt,
        trigger_seconds=None,
    )
    run_available_now(spark, cfg)
    removed = reset_results(output_dir, ckpt)
    assert len(removed) == len(SINK_TABLES) + 1
    import os

    assert not os.path.exists(f"{output_dir}/raw_data")
    assert not os.path.exists(f"{output_dir}/snapshots")


def test_windowed_variant_availablenow(spark, tmp_path_factory):
    """M4 — event-time tumbling window aggregation over a stream, drained
    with availableNow into memory sink."""
    from apache_spark_streaming_project_spark.sources import read_census_stream
    from apache_spark_streaming_project_spark.streaming.windows import windowed_counts

    root = tmp_path_factory.mktemp("win")
    input_dir = str(root / "in")
    simulator.generate_batches(input_dir, total_rows=50, seed=3)
    stream = read_census_stream(spark, input_dir).withColumn(
        "event_time", F.current_timestamp()
    )
    win = windowed_counts(
        stream, "event_time", ["gender"], window_duration="10 seconds",
        watermark="0 seconds",
    )
    q = (
        win.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only closed windows; with a single drain the window
    # may still be open, so assert the query ran and the schema is right
    out = spark.sql("SELECT * FROM win_counts")
    assert set(out.columns) == {"window_start", "window_end", "gender", "count"}


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Exactly-once across restarts: draining, adding new files, and
    draining again with the SAME checkpoint must process each input file
    exactly once — no re-processing of already-committed epochs."""
    input_dir = str(tmp_path / "input")
    cfg = PipelineConfig(
        input_dir=input_dir,
        output_dir=str(tmp_path / "output"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    n1 = simulator.generate_batches(input_dir, total_rows=60, seed=1)
    run_available_now(spark, cfg)
    raw = read_result_table(spark, cfg.output_dir, "raw_data")
    assert raw.count() == n1

    # second run over new files only; old epochs must remain untouched
    # (file names carry an epoch-seconds prefix — step past it so the new
    # files can't collide with the first generation's names)
    import time as _time

    _time.sleep(1.1)
    n2 = simulator.generate_batches(input_dir, total_rows=40, seed=2)
    run_available_now(spark, cfg)
    raw = read_result_table(spark, cfg.output_dir, "raw_data")
    assert raw.count() == n1 + n2
    # every epoch's rows written exactly once
    per_epoch = raw.groupBy("epoch_id").count().collect()
    assert sum(r["count"] for r in per_epoch) == n1 + n2


def _one_file(df, path):
    df.repartition(1).write.mode("append").parquet(path)


def _drain_interval_join(spark, a_dir, b_dir, ckpt, name, watermark, max_delay):
    from apache_spark_streaming_project_spark.streaming.joins import interval_join

    schema_a = "user_id int, a_id string, a_ts timestamp"
    schema_b = "user_id int, b_id string, b_ts timestamp"
    sa = (
        spark.readStream.schema(schema_a)
        .option("maxFilesPerTrigger", 1)
        .parquet(a_dir)
    )
    sb = (
        spark.readStream.schema(schema_b)
        .option("maxFilesPerTrigger", 1)
        .parquet(b_dir)
    )
    j = interval_join(sa, sb, "user_id", "a_ts", "b_ts", max_delay, watermark)
    q = (
        j.select("user_id", "a_id", "b_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _ab_row(spark, user, ident, ts, side):
    import pyspark.sql.functions as SF

    df = spark.createDataFrame([(user, ident, ts)], "user_id int, i string, t string")
    return df.select(
        "user_id",
        SF.col("i").alias(f"{side}_id"),
        SF.to_timestamp("t").alias(f"{side}_ts"),
    )


def test_interval_join_state_survives_micro_batches(spark, tmp_path):
    """A click drained in batch 1 must still match a purchase arriving in
    batch 2 (maxFilesPerTrigger=1) when the watermark retains its state."""
    import time

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    _one_file(_ab_row(spark, 1, "c1", "2024-01-01 10:00:00", "a"), a_dir)
    _one_file(_ab_row(spark, 50, "p_other", "2024-01-01 10:00:00", "b"), b_dir)
    time.sleep(1.1)  # later mtime -> second micro-batch
    _one_file(_ab_row(spark, 60, "c_dummy", "2024-01-01 10:01:00", "a"), a_dir)
    _one_file(_ab_row(spark, 1, "p1", "2024-01-01 10:05:00", "b"), b_dir)
    rows = _drain_interval_join(
        spark, a_dir, b_dir, str(tmp_path / "ck"), "ssj_keep",
        watermark="3650 days", max_delay="10 minutes",
    )
    assert [(r.a_id, r.b_id) for r in rows] == [("c1", "p1")]


def test_interval_join_watermark_evicts_late_rows(spark, tmp_path):
    """The bounded-state contract: once the global watermark passes
    click_ts + max_delay, a late purchase must NOT produce a pair (its
    partner's state is evicted / the row is late) — the batch join would
    have matched it."""
    import time

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    # batch 1 (ONE file per source) advances both sides' event time to
    # T0+2h while carrying the click whose partner comes late
    batch1_a = _ab_row(spark, 1, "c1", "2024-01-01 10:00:00", "a").union(
        _ab_row(spark, 99, "c_adv", "2024-01-01 12:00:00", "a")
    )
    _one_file(batch1_a, a_dir)
    _one_file(_ab_row(spark, 98, "p_adv", "2024-01-01 12:00:00", "b"), b_dir)
    time.sleep(1.1)
    # batch 2: padding only — its END is when the now-advanced watermark
    # (12:00) evicts c1's state (eviction runs post-join each batch, so a
    # same-batch late arrival would still have matched; see batch 3)
    _one_file(_ab_row(spark, 96, "c_pad", "2024-01-01 12:30:00", "a"), a_dir)
    _one_file(_ab_row(spark, 95, "p_pad", "2024-01-01 12:30:00", "b"), b_dir)
    time.sleep(1.1)
    # batch 3: the matching purchase arrives 1h55m behind the watermark —
    # its partner's state is gone, so no pair can be emitted
    _one_file(_ab_row(spark, 94, "c_pad2", "2024-01-01 13:00:00", "a"), a_dir)
    _one_file(_ab_row(spark, 1, "p_late", "2024-01-01 10:05:00", "b"), b_dir)
    rows = _drain_interval_join(
        spark, a_dir, b_dir, str(tmp_path / "ck"), "ssj_evict",
        watermark="0 seconds", max_delay="10 minutes",
    )
    assert rows == []


def test_interval_join_left_outer_emits_on_window_close(spark, tmp_path):
    """leftOuter: a click with no purchase must surface as a null-padded
    row — but only after the watermark closes its match window (emission
    happens at state eviction, so a later padding batch is needed)."""
    import time

    from apache_spark_streaming_project_spark.streaming.joins import interval_join

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    _one_file(_ab_row(spark, 1, "c_alone", "2024-01-01 10:00:00", "a"), a_dir)
    _one_file(_ab_row(spark, 50, "p_other", "2024-01-01 10:00:00", "b"), b_dir)
    time.sleep(1.1)
    # advance the watermark well past 10:10 so c_alone's window closes
    _one_file(_ab_row(spark, 98, "c_adv", "2024-01-01 12:00:00", "a"), a_dir)
    _one_file(_ab_row(spark, 97, "p_adv", "2024-01-01 12:00:00", "b"), b_dir)
    time.sleep(1.1)
    # one more batch for the eviction pass to run with the advanced mark
    _one_file(_ab_row(spark, 96, "c_pad", "2024-01-01 12:30:00", "a"), a_dir)
    _one_file(_ab_row(spark, 95, "p_pad", "2024-01-01 12:30:00", "b"), b_dir)

    sa = (
        spark.readStream.schema("user_id int, a_id string, a_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(a_dir)
    )
    sb = (
        spark.readStream.schema("user_id int, b_id string, b_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(b_dir)
    )
    j = interval_join(
        sa, sb, "user_id", "a_ts", "b_ts", "10 minutes", "0 seconds",
        how="leftOuter",
    )
    q = (
        j.select("user_id", "a_id", "b_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.a_id: r.b_id for r in spark.sql("SELECT * FROM ssj_outer").collect()}
    assert rows.get("c_alone", "missing") is None  # unmatched, window closed


def test_dedup_within_watermark_suppresses_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered event with a FRESH
    timestamp must still be suppressed (keyed dropDuplicates on
    (key, time) would pass it through)."""
    from apache_spark_streaming_project_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:00:03"),  # redelivery, new stamp
            (2, "2024-01-01 10:00:05"),
        ],
        "event_id int, t string",
    ).select("event_id", F.to_timestamp("t").alias("ts"))
    rows.repartition(1).write.parquet(src)
    stream = spark.readStream.schema("event_id int, ts timestamp").parquet(src)
    dd = streaming_dedup_within_watermark(stream, ["event_id"], "ts", "10 minutes")
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddww")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT event_id FROM ddww").collect()
    assert sorted(r.event_id for r in out) == [1, 2]



def test_pipeline_reports_observed_metrics(spark, tmp_path):
    """S6 observability: every micro-batch progress must carry the
    census_in observation (row count + total hours) — the operational
    metrics surface the reference lacks entirely."""
    from apache_spark_streaming_project_spark.streaming.pipeline import (
        PipelineConfig,
        start_pipeline,
    )

    input_dir = str(tmp_path / "in")
    n = simulator.generate_batches(input_dir, total_rows=40, seed=5)
    q = start_pipeline(
        spark,
        PipelineConfig(
            input_dir=input_dir,
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
        ),
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["census_in"]
        for p in q.recentProgress
        if "census_in" in p.get("observedMetrics", {})
    ]
    assert observed, "no batch reported the census_in observation"
    assert sum(m["rows"] for m in observed) == n
    assert all(m["total_hours"] > 0 for m in observed)


def _census_cfg(tmp_path, total_rows=20):
    input_dir = str(tmp_path / "in")
    simulator.generate_batches(input_dir, total_rows=total_rows, seed=3)
    return PipelineConfig(
        input_dir=input_dir,
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )


def test_run_available_now_surfaces_batch_failure(spark, tmp_path, monkeypatch):
    """A ``write_batch`` that raises surfaces its error from
    ``run_available_now``, and no query the drain started stays active
    (queries another test left on the shared session do not count)."""
    from apache_spark_streaming_project_spark.streaming import pipeline

    def failing_write_batch(*args, **kwargs):
        raise ValueError("census batch failed")

    monkeypatch.setattr(pipeline, "write_batch", failing_write_batch)
    already_active = {q.id for q in spark.streams.active}
    with pytest.raises(Exception, match="census batch failed"):
        run_available_now(spark, _census_cfg(tmp_path))
    assert {q.id for q in spark.streams.active} <= already_active


def test_run_available_now_stops_its_query_when_the_wait_fails(
    spark, tmp_path, monkeypatch
):
    """If the wait fails while the query still runs (an interrupt, a
    driver-side error), ``run_available_now`` stops the query it started
    and re-raises, instead of leaving it running on the session. The
    batch is held open until the stop, so the query is still running
    when the wait fails."""
    import threading

    from apache_spark_streaming_project_spark.streaming import pipeline

    release = threading.Event()
    monkeypatch.setattr(
        pipeline, "write_batch", lambda *args, **kwargs: release.wait(60)
    )
    started = []
    real_start = pipeline.start_pipeline

    class InterruptedWait:
        def __init__(self, q):
            self.q = q

        def awaitTermination(self):
            raise KeyboardInterrupt

        def stop(self):
            release.set()  # let the held batch return so stop() can finish
            self.q.stop()

    def start(spark, cfg):
        started.append(real_start(spark, cfg))
        return InterruptedWait(started[-1])

    monkeypatch.setattr(pipeline, "start_pipeline", start)
    try:
        with pytest.raises(KeyboardInterrupt):
            run_available_now(spark, _census_cfg(tmp_path))
        assert started
        assert started[0].id not in {q.id for q in spark.streams.active}
    finally:
        release.set()
        for q in started:
            q.stop()


def test_sink_writes_keep_the_stream_job_group(spark, tmp_path, monkeypatch):
    """Every sink write of an epoch carries the stream's job group
    (``spark.jobGroup.id`` is the query's runId), so stopping the query
    cancels writes in flight."""
    from pyspark.sql.readwriter import DataFrameWriter

    from apache_spark_streaming_project_spark.streaming.pipeline import (
        start_pipeline,
    )

    groups = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        groups.append(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    q = start_pipeline(spark, _census_cfg(tmp_path))
    try:
        q.awaitTermination()
    finally:
        q.stop()
    assert len(groups) >= 3  # the 3 sinks of at least one epoch
    assert set(groups) == {str(q.runId)}


def test_streaming_upsert_replay_idempotent(spark, tmp_path):
    """The foreachBatch MERGE sink's exactly-once story rests on two
    properties, both asserted here: replaying an already-applied batch
    reproduces the IDENTICAL table (foreachBatch is at-least-once, so the
    merge must be idempotent), and merge order cannot change the outcome
    (file sources order by mtime, which is not a contract)."""
    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_table,
    )

    table = str(tmp_path / "table")
    b1 = spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1")], ["k", "version", "payload"]
    )
    b2 = spark.createDataFrame(
        [(2, 2, "b2"), (3, 2, "c2")], ["k", "version", "payload"]
    )

    def snapshot():
        return {
            (r.k, r.version, r.payload)
            for r in spark.read.parquet(table).collect()
        }

    merge_batch_into_table(b1, table, ["k"], "version")
    merge_batch_into_table(b2, table, ["k"], "version")
    want = {(1, 1, "a1"), (2, 2, "b2"), (3, 2, "c2")}
    assert snapshot() == want

    # replay b2 (foreachBatch redelivery): table must be unchanged
    merge_batch_into_table(b2, table, ["k"], "version")
    assert snapshot() == want
    # out-of-order late replay of b1: newest-version semantics hold
    merge_batch_into_table(b1, table, ["k"], "version")
    assert snapshot() == want


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """The production merge seam (partition-pruned rewrite): after a
    merge whose batch keys hash into a subset of buckets, every UNTOUCHED
    ``pbucket=k`` directory is byte-identical (same file names, same
    bytes — never listed for rewrite), the merged table equals the flat
    full-rewrite reference, and replay stays idempotent."""
    import hashlib
    import os

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
        merge_batch_into_table,
    )

    nb = 8
    table = str(tmp_path / "ptable")
    flat = str(tmp_path / "flat")
    base = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(200)], ["k", "version", "payload"]
    )
    touched0 = merge_batch_into_partitioned_table(
        base, table, ["k"], "version", n_buckets=nb
    )
    assert sorted(
        e for e in os.listdir(table) if e.startswith("pbucket=")
    ) == sorted(f"pbucket={b}" for b in touched0)
    merge_batch_into_table(base, flat, ["k"], "version")

    def dir_bytes(bucket_dir):
        out = {}
        for root, _, files in os.walk(bucket_dir):
            for f in sorted(files):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, bucket_dir)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
        return out

    before = {
        d: dir_bytes(os.path.join(table, d))
        for d in os.listdir(table)
        if d.startswith("pbucket=")
    }

    batch = spark.createDataFrame(
        [(3, 2, "v2-3"), (17, 2, "v2-17"), (1000, 2, "new-1000")],
        ["k", "version", "payload"],
    )
    touched = merge_batch_into_partitioned_table(
        batch, table, ["k"], "version", n_buckets=nb
    )
    assert 1 <= len(touched) <= 3  # 3 keys hash into <= 3 of 8 buckets
    merge_batch_into_table(batch, flat, ["k"], "version")

    untouched = [d for d in before if int(d.split("=")[1]) not in touched]
    assert untouched, "fixture must leave at least one bucket untouched"
    for d in untouched:
        assert dir_bytes(os.path.join(table, d)) == before[d]
    for b in touched:
        d = f"pbucket={b}"
        if d in before:
            assert dir_bytes(os.path.join(table, d)) != before[d]

    def snap(path, drop_bucket=False):
        df = spark.read.parquet(path)
        return {
            (r.k, r.version, r.payload)
            for r in df.select("k", "version", "payload").collect()
        }

    assert snap(table) == snap(flat)  # pruned merge == full-rewrite merge

    # replay the same batch: idempotent, and still only those buckets move
    mid = {
        d: dir_bytes(os.path.join(table, d))
        for d in os.listdir(table)
        if d.startswith("pbucket=")
    }
    touched_again = merge_batch_into_partitioned_table(
        batch, table, ["k"], "version", n_buckets=nb
    )
    assert touched_again == touched
    assert snap(table) == snap(flat)
    for d in untouched:
        assert dir_bytes(os.path.join(table, d)) == mid[d]


def test_partitioned_upsert_scan_prunes_partitions(spark, tmp_path):
    """The current-table read inside the pruned merge must show
    PartitionFilters on the bucket column — pruning at file-listing time
    is the mechanism that makes untouched partitions cost zero I/O."""
    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
    )

    table = str(tmp_path / "ptable")
    base = spark.createDataFrame(
        [(i, 1, f"v-{i}") for i in range(100)], ["k", "version", "payload"]
    )
    merge_batch_into_partitioned_table(base, table, ["k"], "version", n_buckets=8)
    scan = (
        spark.read.parquet(table)
        .filter(F.col("pbucket").isin([1, 2]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in scan and "pbucket" in scan


def test_rocksdb_state_store_backend(spark, sf_dir, tmp_path):
    """State-backend portability — the 100 TB state answer: the default
    HDFS-backed store keeps every key in executor heap, which caps
    streaming state at memory size; RocksDB spills to local disk and is
    the production backend for large watermark windows. The engine's
    stateful operators must produce IDENTICAL results under both
    providers (state layout is an implementation detail, not semantics)."""
    import os

    from apache_spark_streaming_project_spark.schemas import load_table
    from apache_spark_streaming_project_spark.streaming.windows import (
        windowed_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    in_dir = str(tmp_path / "in")
    ev.repartition(2).write.mode("overwrite").parquet(in_dir)

    def drain(tag: str):
        out = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        stream = spark.readStream.schema(ev.schema).parquet(in_dir)
        agg = windowed_counts(stream, "ts", ["event_type"], "1 day",
                              watermark="1 hour")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.window_start, r.window_end, r.event_type, r["count"])
            for r in spark.read.parquet(out).collect()
        }

    conf = spark.conf
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = conf.get(key, None)
    try:
        default_res = drain("default")
        conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks_res = drain("rocksdb")
    finally:
        if saved is None:
            conf.unset(key)
        else:
            conf.set(key, saved)
    assert rocks_res == default_res and rocks_res


def test_upsert_crash_between_renames_is_recovered(spark, tmp_path):
    """Crash-window correctness: if a merge died AFTER moving the live
    data to `.retired` but BEFORE moving staging in, the replayed batch
    must first RESTORE the pre-merge state — otherwise it would see no
    current table and silently drop every non-batch row. Both crash
    states (mid-swap and post-swap-pre-cleanup) for both the flat and
    the partitioned path."""
    import os
    import shutil

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
        merge_batch_into_table,
    )

    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(40)], ["k", "version", "payload"]
    )
    b2 = spark.createDataFrame(
        [(3, 2, "v2-3"), (999, 2, "new")], ["k", "version", "payload"]
    )

    def snap(path):
        return {
            (r.k, r.version, r.payload)
            for r in spark.read.parquet(path)
            .select("k", "version", "payload")
            .collect()
        }

    want = {(i, 1, f"v1-{i}") for i in range(40) if i != 3} | {
        (3, 2, "v2-3"),
        (999, 2, "new"),
    }

    # flat path, crash state A: live moved to .retired, staging never landed
    flat = str(tmp_path / "flat")
    merge_batch_into_table(b1, flat, ["k"], "version")
    os.rename(flat, flat + ".retired")  # simulate dying mid-swap
    merge_batch_into_table(b2, flat, ["k"], "version")  # replay
    assert snap(flat) == want

    # flat path, crash state B: swap done, stale .retired left behind
    flat2 = str(tmp_path / "flat2")
    merge_batch_into_table(b1, flat2, ["k"], "version")
    shutil.copytree(flat2, flat2 + ".retired")  # stale pre-merge copy
    merge_batch_into_table(b2, flat2, ["k"], "version")
    assert snap(flat2) == want
    assert not os.path.exists(flat2 + ".retired")

    # partitioned path: crash one AFFECTED bucket mid-swap, leave a stale
    # .retired on another
    ptab = str(tmp_path / "ptab")
    merge_batch_into_partitioned_table(b1, ptab, ["k"], "version", n_buckets=8)
    touched = merge_batch_into_partitioned_table(
        b2, ptab, ["k"], "version", n_buckets=8
    )
    # simulate mid-swap crash on the first touched bucket
    victim = os.path.join(ptab, f"pbucket={touched[0]}")
    os.rename(victim, victim + ".retired")
    merge_batch_into_partitioned_table(b2, ptab, ["k"], "version", n_buckets=8)
    assert snap(ptab) == want
    assert not any(e.endswith(".retired") for e in os.listdir(ptab))


def test_partitioned_merge_plan_is_single_shuffle(spark, tmp_path):
    """The merge's rank-then-write pipeline must carry exactly ONE
    exchange: repartition by bucket satisfies the (bucket, keys) window's
    clustering requirement (bucket is a function of the keys), so
    Catalyst must not insert a second shuffle for the window."""
    import os

    from pyspark.sql.window import Window as W

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
    )

    # replicate the merge's internal plan shape on a plain DataFrame
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(1).alias("version")
    )
    bucket = F.pmod(F.xxhash64("k"), F.lit(16)).cast("int")
    w = W.partitionBy("pbucket", "k").orderBy(F.col("version").desc())
    plan = (
        df.withColumn("pbucket", bucket)
        .repartition(F.col("pbucket"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan

    # and the real merge still produces correct results with the fused plan
    table = str(tmp_path / "t")
    b = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], ["k", "version", "payload"]
    )
    merge_batch_into_partitioned_table(b, table, ["k"], "version", n_buckets=4)
    got = {
        (r.k, r.version, r.payload)
        for r in spark.read.parquet(table)
        .select("k", "version", "payload")
        .collect()
    }
    assert got == {(1, 2, "b"), (2, 1, "c")}
    assert os.path.isdir(table)


def test_layout_mismatch_rejected(spark, tmp_path):
    """The bucket function is part of the table layout: merging with a
    different n_buckets (or key columns) than the table was built with
    must raise — a silent mismatch splits each key's history across
    directories and the newest-version window never sees both."""
    import pytest

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
    )

    table = str(tmp_path / "t")
    b = spark.createDataFrame(
        [(i, 1, "x") for i in range(50)], ["k", "version", "payload"]
    )
    merge_batch_into_partitioned_table(b, table, ["k"], "version", n_buckets=8)
    # same layout: fine (idempotent replay)
    merge_batch_into_partitioned_table(b, table, ["k"], "version", n_buckets=8)
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_batch_into_partitioned_table(
            b, table, ["k"], "version", n_buckets=16
        )
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_batch_into_partitioned_table(
            b, table, ["k", "payload"], "version", n_buckets=8
        )
    # a zero bucket count would make pmod NULL for every row: refused
    with pytest.raises(ValueError, match="n_buckets"):
        merge_batch_into_partitioned_table(
            b, table, ["k"], "version", n_buckets=0
        )
    # the sidecar holds structural params, not a Column repr
    import json
    import os

    with open(os.path.join(table, "_layout.json")) as fh:
        layout = json.load(fh)
    assert layout == {
        "bucket_col": "pbucket",
        "kind": "hash",
        "key_cols": ["k"],
        "n_buckets": 8,
    }


def test_reset_requires_explicit_half_reset(spark, tmp_path):
    """Round-7 self-review: deleting the tables while the checkpoint still
    marks all input processed leaves the pipeline permanently unable to
    rebuild them — the half-reset must be an explicit choice."""
    import pytest as _pytest

    from apache_spark_streaming_project_spark.streaming.reset import (
        reset_results,
    )

    out = str(tmp_path / "out")
    with _pytest.raises(ValueError, match="half-reset"):
        reset_results(out)
    assert reset_results(out, keep_checkpoint=True) == []  # explicit is fine


def test_simulator_staging_hidden_and_names_collision_free(spark, tmp_path):
    """The staging file must be dot-prefixed (invisible to Spark's file
    listing) and same-second name collisions across generate_batches
    calls must not overwrite earlier files."""
    import os

    from apache_spark_streaming_project_spark.streaming import simulator

    out = str(tmp_path / "in")
    os.makedirs(out)
    p1 = simulator.write_batch_file(out, [[1, 2], [3, 4]], 0)
    p2 = simulator.write_batch_file(out, [[5, 6]], 0)  # same second, same n
    assert p1 != p2 and os.path.exists(p1) and os.path.exists(p2)
    assert not any(e.endswith(".tmp") for e in os.listdir(out))
    with open(p1) as f:
        assert f.read().strip().splitlines()[0] == "1,2"  # not overwritten


def test_session_state_survives_restart(spark, tmp_path):
    """Session-window state recovery across a RESTART: a session left
    OPEN when the first availableNow drain terminates must merge with
    events arriving before the second drain (same checkpoint) — the
    state-store recovery property m12's single-run lifecycle does not
    pin. If state were lost, the resumed run would open a fresh session
    at the continuation event and emit two fragments (or a wrong
    start/count) instead of ONE merged session."""
    import time as _time

    from datetime import datetime

    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp"

    def drain(rows):
        df = spark.createDataFrame(rows, schema)
        df.repartition(1).write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        sess = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("s"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("s.start").alias("start"),
                F.col("s.end").alias("end"),
                "n",
            )
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = lambda s: datetime.fromisoformat(s)
    # drain 1: user 1 session opens (two events, 10 min apart) — nothing
    # can be emitted (watermark = 10:10 - 10 min < any session end)
    drain([(1, t("2024-06-01 10:00:00")), (1, t("2024-06-01 10:10:00"))])
    assert not list((tmp_path / "out").glob("*.parquet")) or (
        spark.read.parquet(out).count() == 0
    )
    _time.sleep(1.1)  # file mtimes must order across the two generations
    # drain 2 (SAME checkpoint): 10:20 must MERGE into the restored open
    # session; the far-future user pushes the watermark past its end
    drain([(1, t("2024-06-01 10:20:00")), (99, t("2024-06-03 00:00:00"))])
    got = [
        (r.user_id, str(r.start), str(r.end), r.n)
        for r in spark.read.parquet(out)
        .filter(F.col("user_id") == 1)
        .collect()
    ]
    assert got == [
        (1, "2024-06-01 10:00:00", "2024-06-01 10:50:00", 3)
    ], got


def test_drain_failure_surfaces_and_leaves_no_query(spark, tmp_path):
    """``entry_queries._drain`` owns the query lifecycle: a failing
    micro-batch surfaces as the drain's own error, no query it started
    stays active, and the scoped shuffle-partition override is undone.
    Queries already active on the shared session (another test's) are
    not the drain's, so only new ones count."""
    from apache_spark_streaming_project_spark.entry_queries import _drain

    in_dir = str(tmp_path / "in")
    spark.range(3).write.parquet(in_dir)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    already_active = {q.id for q in spark.streams.active}

    def body(batch_df, batch_id):
        raise ValueError("drain body failed")

    stream = spark.readStream.schema("id long").parquet(in_dir)
    with pytest.raises(Exception, match="drain body failed"):
        _drain(spark, stream.writeStream.foreachBatch(body), str(tmp_path / "c"))
    assert {q.id for q in spark.streams.active} <= already_active
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_drain_stops_its_handle_when_the_wait_fails(spark):
    """If waiting fails while the query still runs (an interrupt, a
    driver-side error), ``_drain`` stops the handle it started and
    re-raises, instead of leaving the query running."""
    from apache_spark_streaming_project_spark.entry_queries import _drain

    class Query:
        stopped = False

        def awaitTermination(self):
            raise KeyboardInterrupt

        def stop(self):
            self.stopped = True

    class Writer:
        def __init__(self):
            self.settings = {}
            self.query = Query()

        def option(self, key, value):
            self.settings[key] = value
            return self

        def trigger(self, **kw):
            self.settings.update(kw)
            return self

        def start(self):
            return self.query

    writer = Writer()
    with pytest.raises(KeyboardInterrupt):
        _drain(spark, writer, "/ckpt")
    assert writer.query.stopped
    assert writer.settings == {"checkpointLocation": "/ckpt", "availableNow": True}


def test_write_waves_drains_in_index_order(spark, tmp_path):
    """``_write_waves`` pins one mtime per wave, strictly increasing
    with the wave index, so ``_drain_waves`` hands the body one wave per
    batch, in list order."""
    import os

    from apache_spark_streaming_project_spark.entry_queries import (
        _drain_waves,
        _write_waves,
    )

    in_dir = str(tmp_path / "in")
    waves = [spark.range(1).select(F.lit(i).alias("wave")) for i in range(3)]
    _write_waves(waves, in_dir)

    mtimes = []
    for i in range(3):
        wave_dir = os.path.join(in_dir, f"wave{i}")
        times = {
            os.path.getmtime(os.path.join(wave_dir, fn))
            for fn in os.listdir(wave_dir)
        }
        assert len(times) == 1, (i, times)
        mtimes.extend(times)
    assert mtimes[0] < mtimes[1] < mtimes[2], mtimes

    seen = []
    _drain_waves(
        spark,
        in_dir,
        str(tmp_path / "ckpt"),
        lambda batch_df, batch_id: seen.append(
            [r.wave for r in batch_df.collect()]
        ),
        waves[0].schema,
    )
    assert seen == [[0], [1], [2]]
