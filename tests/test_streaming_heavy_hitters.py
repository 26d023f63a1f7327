"""m24_streaming_heavy_hitters (round-13): Misra-Gries sketch store
maintained under ingest. Pins replay idempotence (batch-keyed
overwrite), the mergeability guarantee under DIFFERENT batchings (the
booleans are theorem-backed, not fixture luck), and the registered
end-to-end contract (only planted hot items are heavy, both gates
TRUE)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.entry_queries import (
    QUERIES,
    _m24_items,
)
from apache_spark_streaming_project_spark.operators.mergeable import (
    streaming_heavy_hitters_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )


def _merged(spark, store):
    return {
        (r["event_type"], r["item"]): r["est"]
        for r in read_store(spark, store)
        .groupBy("event_type", "item")
        .agg(F.sum("partial_count").alias("est"))
        .collect()
    }


def _fold(d, store, n_batches):
    for i in range(n_batches):
        streaming_heavy_hitters_batch(
            _m24_items(d.filter(F.col("event_id") % n_batches == i)),
            ["event_type"],
            "item",
            store,
            i,
            candidates=8,
        )


def test_m24_replay_is_a_noop(spark, tmp_path):
    d = _events(spark)
    store = str(tmp_path / "sketch")
    _fold(d, store, 3)
    before = _merged(spark, store)
    # at-least-once redelivery of the middle batch overwrites its own
    # batch dir with identical content
    streaming_heavy_hitters_batch(
        _m24_items(d.filter(F.col("event_id") % 3 == 1)),
        ["event_type"],
        "item",
        store,
        1,
        candidates=8,
    )
    assert _merged(spark, store) == before


def test_m24_guarantees_hold_under_any_batching(spark, tmp_path):
    d = _events(spark)
    items = _m24_items(d)
    exact = {
        (r["event_type"], r["item"]): r["n"]
        for r in items.groupBy("event_type", "item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {}
    for (et, _), n in exact.items():
        totals[et] = totals.get(et, 0) + n
    for n_batches in (1, 2, 3):
        store = str(tmp_path / f"sketch_{n_batches}")
        _fold(d, store, n_batches)
        est = _merged(spark, store)
        for key, true_n in exact.items():
            bound = totals[key[0]] / 9.0  # N_group / (candidates + 1)
            if true_n > bound:
                # MG survival: every true-heavy item present, estimate
                # within the undercount bound
                assert key in est, (n_batches, key)
                assert 0 < est[key] <= true_n
                assert true_n - est[key] <= bound
        # no over-counting anywhere, heavy or not
        for key, e in est.items():
            assert e <= exact[key]


def test_m24_end_to_end(spark):
    out = QUERIES["m24_streaming_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert out and all(r["present_ok"] and r["bound_ok"] for r in out)
    assert all(r["item"].startswith("hotevt") for r in out)
