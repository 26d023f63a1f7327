"""m17_streaming_packing (round-12): cross-batch BPE-budget sequence
packing via sink-derived offsets and idempotent batch-keyed publish.
Replays the PRODUCTION body (operators/text.py:streaming_pack_publish)
directly, per the dsir_publish_scored_batch precedent."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.operators.text import (
    pack_documents,
    streaming_pack_publish,
)

ROWS = [
    # (lang, doc_id, n_tokens) — two languages interleaved across waves
    ("en", 0, 100), ("de", 1, 200), ("en", 2, 250),
    ("en", 3, 10), ("de", 4, 60), ("de", 5, 300),
    ("en", 6, 256), ("de", 7, 1), ("en", 8, 500),
]


def _batch(spark, ids):
    return spark.createDataFrame(
        [r for r in ROWS if r[1] in ids],
        "lang string, doc_id long, n_tokens_bpe long",
    )


def _sink_rows(spark, sink):
    return sorted(
        (r["lang"], r["doc_id"], r["n_tokens_bpe"], r["pack_id"])
        for r in spark.read.parquet(sink).collect()
    )


def test_streaming_equals_batch_packing(spark, tmp_path):
    """Three production batches == pack_documents over the arrival-
    ordered concatenation (pack ids are global, budget 256)."""
    sink = str(tmp_path / "sink")
    waves = [{0, 1, 2}, {3, 4, 5}, {6, 7, 8}]
    for i, ids in enumerate(waves):
        streaming_pack_publish(_batch(spark, ids), sink, i, 256)

    all_df = spark.createDataFrame(
        [(lang, doc, tok, doc // 3) for lang, doc, tok in ROWS],
        "lang string, doc_id long, n_tokens_bpe long, wave long",
    ).withColumn("arrival", F.col("wave") * 1000 + F.col("doc_id"))
    want = sorted(
        (r["lang"], r["doc_id"], r["n_tokens_bpe"], r["pack_id"])
        for r in pack_documents(
            all_df, "n_tokens_bpe", 256, "arrival", "lang"
        ).collect()
    )
    assert _sink_rows(spark, sink) == want


def test_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-published
    batch must reproduce the identical sink (offsets derive only from
    batches with a SMALLER id, and the publish overwrites its own
    directory)."""
    sink = str(tmp_path / "sink")
    streaming_pack_publish(_batch(spark, {0, 1, 2}), sink, 0, 256)
    streaming_pack_publish(_batch(spark, {3, 4, 5}), sink, 1, 256)
    before = _sink_rows(spark, sink)
    # replay batch 1 (and then batch 0) — both no-ops
    streaming_pack_publish(_batch(spark, {3, 4, 5}), sink, 1, 256)
    assert _sink_rows(spark, sink) == before
    streaming_pack_publish(_batch(spark, {0, 1, 2}), sink, 0, 256)
    assert _sink_rows(spark, sink) == before


def test_wave_permutation_pins_arrival_order_contract(spark, tmp_path):
    """Arrival-order contract (round-12 VERDICT item 5): real corpus
    assembly replays shards out of order, and m17 packs by ARRIVAL, not
    event time. Permuting the wave order pins all three halves of that
    contract: (a) the streamed sink still equals the batch formula over
    the (permuted) arrival concatenation — the oracle tracks arrival,
    whatever it is; (b) the permutation-invariant guarantees hold — the
    doc multiset is unchanged and each group's final pack id is
    floor((total_tokens - 1) / budget), a function of the total alone;
    (c) individual pack assignments genuinely differ between arrival
    orders — which is exactly why arrival order is part of the contract
    (a deployment that needs event-time packs must sort, or set late
    docs aside, upstream)."""
    budget = 256

    def run(order):
        sink = str(tmp_path / ("sink_" + "".join(map(str, order))))
        waves = [{0, 1, 2}, {3, 4, 5}, {6, 7, 8}]
        arrival_pos = {}
        for arrival, w in enumerate(order):
            streaming_pack_publish(
                _batch(spark, waves[w]), sink, arrival, budget
            )
            for doc in waves[w]:
                arrival_pos[doc] = arrival
        all_df = spark.createDataFrame(
            [
                (lang, doc, tok, arrival_pos[doc])
                for lang, doc, tok in ROWS
            ],
            "lang string, doc_id long, n_tokens_bpe long, wave long",
        ).withColumn("arrival", F.col("wave") * 1000 + F.col("doc_id"))
        want = sorted(
            (r["lang"], r["doc_id"], r["n_tokens_bpe"], r["pack_id"])
            for r in pack_documents(
                all_df, "n_tokens_bpe", budget, "arrival", "lang"
            ).collect()
        )
        got = _sink_rows(spark, sink)
        # (a) streamed == batch formula over this arrival order
        assert got == want
        return got

    in_order = run([0, 1, 2])
    permuted = run([2, 0, 1])

    # (b) permutation-invariant guarantees
    assert sorted(r[:3] for r in in_order) == sorted(
        r[:3] for r in permuted
    )
    for rows in (in_order, permuted):
        totals, last_pack = {}, {}
        for lang, _doc, tok, pack in rows:
            totals[lang] = totals.get(lang, 0) + tok
            last_pack[lang] = max(last_pack.get(lang, 0), pack)
        assert last_pack == {
            lang: (tot - 1) // budget for lang, tot in totals.items()
        }

    # (c) arrival order is load-bearing: some doc lands in a different
    # pack under the permuted arrival
    assert dict((r[1], r[3]) for r in in_order) != dict(
        (r[1], r[3]) for r in permuted
    )


def test_null_group_and_nonstring_group(spark, tmp_path):
    """Round-12 review finds: (a) NULL group values are ONE continuing
    group across batches (null-safe offsets join — a plain equi-join
    restarts their fill every batch); (b) a non-string group column must
    work on the very first batch (offsets schema derives from the
    batch)."""
    sink = str(tmp_path / "s1")
    b1 = spark.createDataFrame(
        [(None, 0, 200), ("en", 1, 200)],
        "lang string, doc_id long, n_tokens_bpe long",
    )
    b2 = spark.createDataFrame(
        [(None, 2, 200), ("en", 3, 200)],
        "lang string, doc_id long, n_tokens_bpe long",
    )
    streaming_pack_publish(b1, sink, 0, 256)
    streaming_pack_publish(b2, sink, 1, 256)
    got = {
        (r["lang"], r["doc_id"]): r["pack_id"]
        for r in spark.read.parquet(sink).collect()
    }
    # second-batch rows continue the fill: 200+200=400 -> pack 1
    assert got[(None, 0)] == 0 and got[(None, 2)] == 1
    assert got[("en", 1)] == 0 and got[("en", 3)] == 1

    sink2 = str(tmp_path / "s2")
    big = spark.createDataFrame(
        [(7, 0, 300), (8, 1, 100)],
        "shard bigint, doc_id long, n_tokens_bpe long",
    )
    streaming_pack_publish(big, sink2, 0, 256, group_col="shard")
    rows = spark.read.parquet(sink2).collect()
    assert {r["shard"] for r in rows} == {7, 8}
