"""m22_streaming_ann_ingest (round-13): PQ retrieval index maintained
under ingest against frozen codebooks. Pins the two load-bearing
claims — streamed store == full re-encode (incremental append is exact,
and replay is a no-op), and retrieval over the streamed codes equals
retrieval over a batch-built index — plus the registered closed-form
top-1 contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import store_rows

from apache_spark_streaming_project_spark.entry_queries import QUERIES
from apache_spark_streaming_project_spark.operators.similarity import (
    pq_batch_top_k,
    pq_encode,
    pq_train,
    streaming_pq_ingest_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


def _setup(spark, tmp_path):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = pq_train(e, m=4, n_centroids=32)
    store = str(tmp_path / "codes")
    for i in (0, 1, 2):
        streaming_pq_ingest_batch(
            e.filter(F.col("vec_id") % 3 == i), books, store, i
        )
    return e, books, store


def test_m22_streamed_store_equals_full_encode(spark, tmp_path):
    e, books, store = _setup(spark, tmp_path)
    got = store_rows(spark, store)
    want = sorted(
        (r["vec_id"], tuple(r["pq_code"]))
        for r in pq_encode(e, books).collect()
    )
    assert [(v, tuple(c)) for v, c in got] == want

    # at-least-once replay of batch 1 republishes identical content
    streaming_pq_ingest_batch(
        e.filter(F.col("vec_id") % 3 == 1), books, store, 1
    )
    assert store_rows(spark, store) == got


def test_m22_retrieval_equivalence(spark, tmp_path):
    e, books, store = _setup(spark, tmp_path)
    streamed = read_store(spark, store).select("vec_id", "pq_code")
    batch_built = pq_encode(e, books)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x + 0.005 * F.sin(F.col("vec_id") * 37 + i)
            ).cast("double"),
        ).alias("qvec"),
    )

    def rows(enc):
        return sorted(
            map(
                tuple,
                pq_batch_top_k(enc, books, queries, k=3)
                .select("query_id", "vec_id", "adc_dist")
                .collect(),
            )
        )

    assert rows(streamed) == rows(batch_built)


def test_m22_end_to_end_top1(spark):
    out = QUERIES["m22_streaming_ann_ingest"].fn(spark, SF_DIR).collect()
    assert len(out) == 10
    assert all(r["query_id"] == r["found_vec_id"] for r in out)
