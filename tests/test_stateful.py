"""Custom stateful streaming operator tests (applyInPandasWithState):
cross-batch state must accumulate, and anomalies must be judged against
statistics from ALL prior batches, not just the current one."""

from __future__ import annotations

import time

import pytest

from apache_spark_streaming_project_spark.streaming.stateful import (
    running_stats_anomalies,
)


@pytest.fixture(scope="module")
def stateful_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stateful")
    input_dir = root / "input"
    input_dir.mkdir()

    # batch file 1: 12 normal values for u1; batch file 2: 1 outlier + normals
    rows1 = [(i, "u1", 10.0 + (i % 3)) for i in range(12)]
    rows2 = [(100, "u1", 500.0), (101, "u1", 11.0)]
    for fname, rows in [("b1.parquet", rows1), ("b2.parquet", rows2)]:
        spark.createDataFrame(
            rows, "event_id long, user_id string, value double"
        ).coalesce(1).write.parquet(str(input_dir / fname))

    stream = (
        spark.readStream.schema("event_id long, user_id string, value double")
        .option("maxFilesPerTrigger", "1")  # one micro-batch per file
        .parquet(str(input_dir / "*.parquet"))
    )
    out = running_stats_anomalies(stream, min_n=5)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("append")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("stateful_out").orderBy("event_id").collect()


def test_state_accumulates_across_batches(stateful_run):
    rows = {r["event_id"]: r for r in stateful_run}
    assert len(stateful_run) == 14
    # n_seen keeps counting into the second micro-batch (cross-batch state)
    assert rows[11]["n_seen"] == 12
    assert rows[100]["n_seen"] == 13
    assert rows[101]["n_seen"] == 14


def test_anomaly_judged_against_running_stats(stateful_run):
    rows = {r["event_id"]: r for r in stateful_run}
    # the 500.0 outlier is extreme vs the 12 prior ~10s -> flagged
    assert rows[100]["is_anomaly"] is True
    assert rows[100]["z_score"] > 3
    # normal values are never flagged
    assert all(not r["is_anomaly"] for r in stateful_run if r["event_id"] != 100)


def test_welford_matches_batch_stats(stateful_run):
    """Running mean/stddev after the final row == plain batch mean/stddev."""
    import statistics

    vals = [r["value"] for r in stateful_run]
    last = max(stateful_run, key=lambda r: r["n_seen"])
    assert last["running_mean"] == pytest.approx(statistics.fmean(vals))
    assert last["running_stddev"] == pytest.approx(statistics.stdev(vals))


def test_idle_timeout_evicts_and_restarts(spark, tmp_path):
    """With a processing-time TTL, a key idle for a batch is evicted (its
    statistics restart cold on reappearance) — the bounded-state contract
    for unbounded key domains. Without the TTL the same sequence keeps
    accumulating (asserted by test_state_accumulates_across_batches)."""
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    batches = [
        ("b1.parquet", [(i, "u1", 10.0 + (i % 3)) for i in range(6)]),
        # u1 idle this batch; its 1 ms TTL expires long before the batch runs
        ("b2.parquet", [(100 + i, "u2", 20.0) for i in range(3)]),
        ("b3.parquet", [(200, "u1", 10.0), (201, "u1", 11.0)]),
    ]
    for fname, rows in batches:
        spark.createDataFrame(
            rows, "event_id long, user_id string, value double"
        ).coalesce(1).write.parquet(str(input_dir / fname))

    stream = (
        spark.readStream.schema("event_id long, user_id string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(input_dir / "*.parquet"))
    )
    out = running_stats_anomalies(stream, min_n=5, idle_timeout_ms=1)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_ttl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # with a processing-time state timeout the availableNow query keeps
    # running no-data batches, so it never terminates and
    # processAllAvailable never returns: wait for the output of all 11
    # input rows instead, then stop the query so it does not outlive
    # the test
    deadline = time.monotonic() + 120
    while (
        spark.table("stateful_ttl_out").count() < 11
        and time.monotonic() < deadline
    ):
        time.sleep(0.1)
    q.stop()
    rows = {
        r["event_id"]: r
        for r in spark.table("stateful_ttl_out").collect()
    }
    assert rows[5]["n_seen"] == 6          # b1 accumulated normally
    assert rows[102]["n_seen"] == 3        # u2 unaffected
    # u1 was evicted while idle -> statistics restarted cold in b3
    assert rows[200]["n_seen"] == 1
    assert rows[201]["n_seen"] == 2


def test_multichunk_group_is_deterministic(spark, tmp_path):
    """A group LARGER than arrow.maxRecordsPerBatch reaches the state
    update as multiple chunks in shuffle-arrival order; the kernel must
    merge them before its id sort or every z-score downstream of the
    carried state becomes run-dependent. Forced here by dropping the
    Arrow batch size to 16 under a 200-row group written in descending
    id order, then checking the emitted statistics equal the
    ascending-id Welford reference."""
    import statistics

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try:
        input_dir = tmp_path / "input"
        input_dir.mkdir()
        n = 200
        # write descending + shuffled-ish ids so arrival order != id order
        rows = [(i, "u1", float((i * 37) % 50)) for i in range(n - 1, -1, -1)]
        spark.createDataFrame(
            rows, "event_id long, user_id string, value double"
        ).coalesce(1).write.parquet(str(input_dir / "b1.parquet"))
        stream = (
            spark.readStream.schema(
                "event_id long, user_id string, value double"
            ).parquet(str(input_dir / "*.parquet"))
        )
        out = running_stats_anomalies(stream, min_n=5)
        q = (
            out.writeStream.format("memory")
            .queryName("stateful_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["event_id"]: r
            for r in spark.table("stateful_chunks").collect()
        }
        assert len(got) == n
        # n_seen must follow ascending event_id exactly (the documented
        # in-batch order), independent of the 13 chunks' arrival order
        vals = []
        for i in range(n):
            vals.append(float((i * 37) % 50))
            assert got[i]["n_seen"] == i + 1, i
            assert got[i]["running_mean"] == pytest.approx(
                statistics.fmean(vals)
            ), i
        assert got[n - 1]["running_stddev"] == pytest.approx(
            statistics.stdev(vals)
        )
    finally:
        spark.conf.set(conf, old)


def test_null_key_upsert_lands_in_a_real_bucket_and_survives_replay(
    spark, tmp_path
):
    """The bucketed upsert sink's hash is total: a NULL key hashes to a
    real ``pbucket=<int>`` directory (never the hive default partition,
    which the swap loop would not move), its newest version wins, and
    replaying the batch leaves the table unchanged."""
    import os

    from apache_spark_streaming_project_spark.streaming.upsert import (
        merge_batch_into_partitioned_table,
    )

    table = str(tmp_path / "t")
    schema = "k int, version int, payload string"
    b1 = spark.createDataFrame([(None, 1, "n1"), (1, 1, "a1")], schema)
    b2 = spark.createDataFrame([(None, 2, "n2"), (2, 1, "b1")], schema)

    def snap():
        return {
            (r.k, r.version, r.payload)
            for r in spark.read.parquet(table)
            .select("k", "version", "payload")
            .collect()
        }

    merge_batch_into_partitioned_table(b1, table, ["k"], "version", n_buckets=4)
    touched = merge_batch_into_partitioned_table(
        b2, table, ["k"], "version", n_buckets=4
    )
    want = {(None, 2, "n2"), (1, 1, "a1"), (2, 1, "b1")}
    assert snap() == want
    entries = [e for e in os.listdir(table) if not e.startswith("_")]
    assert all(
        e.startswith("pbucket=") and e.split("=")[1].isdigit() for e in entries
    ), entries
    null_bucket = (
        spark.read.parquet(table).filter("k IS NULL").first()["pbucket"]
    )
    assert null_bucket in touched
    # replay of the batch holding the NULL key: identical table
    assert (
        merge_batch_into_partitioned_table(
            b2, table, ["k"], "version", n_buckets=4
        )
        == touched
    )
    assert snap() == want
