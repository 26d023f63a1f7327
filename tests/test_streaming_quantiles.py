"""m26_streaming_quantiles (round-13): histogram-partial store
maintained under ingest. Pins streamed-merged == direct corpus
histogram ROW FOR ROW (the exact-merge sketch — no inequality slack),
replay idempotence, and the registered end-to-end quantile contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.entry_queries import QUERIES
from apache_spark_streaming_project_spark.operators.profile import (
    fixed_width_histogram,
    merge_histograms,
    streaming_histogram_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "value"
    )


def _merged_rows(spark, store):
    return sorted(
        map(
            tuple,
            merge_histograms(read_store(spark, store)).collect(),
        )
    )


def _fold(d, store, n_batches):
    for i in range(n_batches):
        streaming_histogram_batch(
            d.filter(F.col("event_id") % n_batches == i),
            "value",
            0.0,
            500.0,
            40,
            store,
            i,
        )


def test_m26_streamed_merge_equals_direct(spark, tmp_path):
    d = _events(spark)
    for n_batches in (1, 3):
        store = str(tmp_path / f"hist_{n_batches}")
        _fold(d, store, n_batches)
        direct = sorted(
            map(
                tuple,
                fixed_width_histogram(d, "value", 0.0, 500.0, 40).collect(),
            )
        )
        assert _merged_rows(spark, store) == direct


def test_m26_replay_is_a_noop(spark, tmp_path):
    d = _events(spark)
    store = str(tmp_path / "hist")
    _fold(d, store, 3)
    before = _merged_rows(spark, store)
    streaming_histogram_batch(
        d.filter(F.col("event_id") % 3 == 1), "value", 0.0, 500.0, 40, store, 1
    )
    assert _merged_rows(spark, store) == before


def test_m26_end_to_end(spark):
    out = QUERIES["m26_streaming_quantiles"].fn(spark, SF_DIR).collect()
    assert [r["q"] for r in out] == [0.5, 0.9, 0.99]
    for r in out:
        # the rank the bucket was chosen for really is inside it, and
        # the bucket edges are the fixed-width grid
        assert r["bucket_lo"] == r["bucket"] * 12.5
        assert r["bucket_hi"] == (r["bucket"] + 1) * 12.5
        assert 1 <= r["rank"] <= r["n_total"]
