"""m23_streaming_quota_sample (round-13): exact-quota stratified sample
maintained under ingest. Pins the three contracts the registration's
docstring claims — streamed fold == direct full-corpus sample (the
top-k merge theorem), replay idempotence (a replay of batch b folds the
state version b-1, streaming/batch_store.py:read_state), and arrival-
PERMUTATION invariance (the rank key never sees arrival time — the
opposite contract from m14/m17's keep-first arrival semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.entry_queries import QUERIES
from apache_spark_streaming_project_spark.operators.sampling import (
    stratified_sample,
    streaming_quota_sample_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    publish_batch,
    read_state,
)

SF_DIR = "/root/testdata/sf0.001"

def _order():
    # built lazily: Column construction needs an active SparkContext
    return F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":m23")))


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )


def _state_rows(spark, state, before=None):
    return sorted(
        (r["lang"], r["doc_id"])
        for r in read_state(
            spark, state, "doc_id long, lang string", before
        ).collect()
    )


def _fold(spark, d, state, batch_filters):
    for i, flt in enumerate(batch_filters):
        streaming_quota_sample_batch(
            d.filter(flt), ["lang"], 10, _order(), state, i
        )


def test_m23_streamed_fold_equals_direct_sample(spark, tmp_path):
    d = _docs(spark)
    state = str(tmp_path / "winners")
    m = F.col("doc_id") % 3
    _fold(spark, d, state, [(m == i) | (m == (i + 1) % 3) for i in range(3)])
    direct = sorted(
        (r["lang"], r["doc_id"])
        for r in stratified_sample(d, ["lang"], 10, _order()).collect()
    )
    assert _state_rows(spark, state) == direct


def test_m23_replay_is_a_noop(spark, tmp_path):
    d = _docs(spark)
    state = str(tmp_path / "winners")
    m = F.col("doc_id") % 3
    _fold(spark, d, state, [m == 0, m == 1])
    first = _state_rows(spark, state)
    # a version 2 exists: the direct sample over all three waves, which
    # is what batch 2's fold would publish
    publish_batch(
        stratified_sample(d, ["lang"], 10, _order()), state, 2, files=1
    )
    later = _state_rows(spark, state)
    assert later != first
    # redelivery of batch 1 folds version 0, not the newest version 2,
    # so it rewrites exactly its first attempt's version
    streaming_quota_sample_batch(
        d.filter(m == 1), ["lang"], 10, _order(), state, 1
    )
    assert _state_rows(spark, state, before=2) == first
    assert _state_rows(spark, state) == later


def test_m23_arrival_permutation_invariance(spark, tmp_path):
    d = _docs(spark)
    m = F.col("doc_id") % 3
    results = []
    for perm in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        state = str(tmp_path / f"winners_{''.join(map(str, perm))}")
        _fold(spark, d, state, [m == i for i in perm])
        results.append(_state_rows(spark, state))
    assert results[0] == results[1] == results[2]


def test_m23_end_to_end_quota(spark):
    out = QUERIES["m23_streaming_quota_sample"].fn(spark, SF_DIR).collect()
    per_lang = {}
    for r in out:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
    # every stratum present and no stratum exceeds its quota; saturated
    # strata (>=10 docs in the corpus) hit it exactly
    assert per_lang and all(n <= 10 for n in per_lang.values())
    counts = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, n in counts.items():
        assert per_lang.get(lang, 0) == min(10, n)
