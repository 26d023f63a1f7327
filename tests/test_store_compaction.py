"""Compaction/retention for the streaming dedup corpus-lifetime stores
(round-12, VERDICT item 7).

m14/m14b's band index and document stores are append-only parquet
streams: every micro-batch appends its own part files, so a long-lived
deployment accumulates small files and probe cost grows with file count,
not data size. The store maintenance primitive
(streaming/batch_store.py:compact_store — shuffle-free coalesce rewrite
into a fresh directory, swap after verification) composes directly onto
the stores. These tests pin the two invariants a maintenance job must
guarantee: the kept-set RESULT is unchanged by compaction, and continued
ingestion against the compacted stores behaves identically to ingestion
against the fragmented originals."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import store_kept as _kept
from conftest import store_rows as _rows

from apache_spark_streaming_project_spark.entry_queries import _M14B_T
from apache_spark_streaming_project_spark.operators.dedup import (
    streaming_threshold_dedup_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    compact_store,
    publish_batch,
    read_state,
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


def test_m14b_stores_compaction_preserves_results(spark, tmp_path):
    from apache_spark_streaming_project_spark.entry_queries import (
        _m14b_docs,
    )

    d = _m14b_docs(spark, SF_DIR)
    frag_band = str(tmp_path / "band")
    frag_text = str(tmp_path / "text")
    # drive three production batches -> fragmented append-only stores
    for i in range(3):
        streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), frag_band, frag_text, _M14B_T, i
        )
    kept_before = _kept(spark, frag_text)
    n_frag = len(glob.glob(frag_band + "/**/part-*", recursive=True))
    assert n_frag >= 3  # at least one part file per batch publish

    dense_band = str(tmp_path / "band_c")
    dense_text = str(tmp_path / "text_c")
    compact_store(spark, frag_band, dense_band, 1)
    compact_store(spark, frag_text, dense_text, 1)
    assert len(glob.glob(dense_band + "/part-*")) == 1
    assert len(glob.glob(dense_text + "/part-*")) == 1

    # invariant 1: the kept set is byte-identical after compaction
    assert _kept(spark, dense_text) == kept_before
    # and the band index carries exactly the same rows
    assert _rows(spark, frag_band) == _rows(spark, dense_band)

    # invariant 2: continued ingestion on the compacted stores equals
    # continued ingestion on the fragmented ones — same fourth batch
    # (re-deliver epoch 0 docs relabeled as epoch 3: every doc is a
    # cross-epoch exact dup and must be dropped via the index)
    wave4 = d.filter(F.col("epoch") == 0).withColumn(
        "epoch", F.lit(3).cast("bigint")
    )
    streaming_threshold_dedup_batch(
        wave4, frag_band, frag_text, _M14B_T, 3
    )
    streaming_threshold_dedup_batch(
        wave4, dense_band, dense_text, _M14B_T, 3
    )
    assert _kept(spark, dense_text) == _kept(spark, frag_text)
    # the re-delivered epoch is entirely deduplicated
    assert not [
        (k, e) for (k, e) in _kept(spark, dense_text) if e == 3
    ]


def test_retention_prunes_only_dropped_rows(spark, tmp_path):
    """Retention companion: a maintenance job may drop the text rows of
    DROPPED docs older than a horizon (they exist only to serve the
    pair-rule verify; the band index must stay complete). Pruning
    dropped epoch-0 texts must not change the kept set, because kept
    rows and the band index are untouched."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _m14b_docs,
    )

    d = _m14b_docs(spark, SF_DIR)
    band = str(tmp_path / "band")
    text = str(tmp_path / "text")
    for i in range(3):
        streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), band, text, _M14B_T, i
        )
    kept_before = _kept(spark, text)

    pruned = str(tmp_path / "text_pruned")
    read_store(spark, text).filter(
        F.col("kept") | (F.col("epoch") > 0)
    ).coalesce(1).write.parquet(pruned)
    assert _kept(spark, pruned) == kept_before

    # CAVEAT pinned: pruning dropped texts weakens the verify set for
    # FUTURE batches (a new doc similar only to a pruned dropped doc
    # would now be kept). The maintenance contract is therefore
    # retention-by-horizon on dropped rows only, documented in
    # BASELINE.md; this assertion demonstrates the drift the horizon
    # trades away.
    wave4 = d.filter(F.col("epoch") == 1).withColumn(
        "epoch", F.lit(3).cast("bigint")
    )
    band2 = str(tmp_path / "band2")
    # hard-link clone of the batch-keyed store tree (subdirs per batch)
    shutil.copytree(band, band2, copy_function=os.link)
    streaming_threshold_dedup_batch(wave4, band, text, _M14B_T, 3)
    streaming_threshold_dedup_batch(wave4, band2, pruned, _M14B_T, 3)
    # epoch-1 re-delivery dedups against epoch-1 originals (kept rows,
    # never pruned) -> identical outcome even after pruning
    assert _kept(spark, pruned) == _kept(spark, text)


@pytest.mark.parametrize("t", [_M14B_T, 1.0])  # m14b, m14
def test_streaming_dedup_replay_is_idempotent(spark, tmp_path, t):
    """Round-12 ADVICE medium item: foreachBatch is at-least-once, so a
    retried micro-batch re-runs the whole batch body. The batch-keyed
    overwrite publish must make the retry a no-op — identical store
    contents, identical kept set — at m14b's threshold and at m14's
    t = 1, including a retry that arrives AFTER later batches were
    planned against the first attempt's state (same batch_id -> same
    subdir)."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _m14b_docs,
    )

    d = _m14b_docs(spark, SF_DIR)
    band = str(tmp_path / "band")
    text = str(tmp_path / "text")
    streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 0), band, text, t, 0
    )
    streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 1), band, text, t, 1
    )
    band_once, text_once = _rows(spark, band), _rows(spark, text)
    # retry batch 1 verbatim (at-least-once redelivery)
    streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 1), band, text, t, 1
    )
    assert _rows(spark, band) == band_once
    assert _rows(spark, text) == text_once
    # ingestion after the retry matches a never-retried pipeline
    band2, text2 = str(tmp_path / "band2"), str(tmp_path / "text2")
    for i in range(2):
        streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), band2, text2, t, i
        )
    streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 2), band, text, t, 2
    )
    streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 2), band2, text2, t, 2
    )
    assert _kept(spark, text) == _kept(spark, text2)


def test_batch_store_layout_contract(spark, tmp_path):
    """The one store layout every foreachBatch body publishes into
    (streaming/batch_store.py): flat compacted part files at the root
    coexist with ``batch=<id>`` subdirectories, a republished batch
    replaces its own directory, and the recursive read ignores directory
    names — the union of the rows, no ``batch`` column. A sink never
    compacted keeps the hive ``batch`` column under a plain read. A
    state table keeps one version per batch: ``read_state`` serves the
    newest complete one and leaves at most two on disk."""
    schema = "k long, v string"

    def publish(rows, root, batch_id):
        publish_batch(spark.createDataFrame(rows, schema), root, batch_id)

    frag, store = str(tmp_path / "frag"), str(tmp_path / "store")
    publish([(1, "a"), (2, "b")], frag, 0)
    compact_store(spark, frag, store, 1)
    publish([(3, "c")], store, 1)
    publish([(3, "c")], store, 1)  # at-least-once redelivery of batch 1
    publish([], store, 2)
    entries = os.listdir(store)
    assert {"batch=1", "batch=2"} <= set(entries)
    assert any(f.startswith("part-") for f in entries)

    got = read_store(spark, store)
    assert sorted(got.columns) == ["k", "v"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]

    missing = read_store(spark, str(tmp_path / "missing"), schema)
    assert missing.schema.simpleString() == "struct<k:bigint,v:string>"
    assert missing.count() == 0

    sink = str(tmp_path / "sink")
    publish([(0, "x")], sink, 0)
    publish([(1, "y")], sink, 1)
    hive = spark.read.parquet(sink)
    assert sorted(hive.columns) == ["batch", "k", "v"]
    assert sorted(map(tuple, hive.select("k", "batch").collect())) == [
        (0, 0), (1, 1),
    ]

    def rows(df):
        return sorted(map(tuple, df.collect()))

    state = str(tmp_path / "state")
    for b in range(3):  # a fold: each batch adds one row to the state
        prior = read_state(spark, state, schema, before=b)
        merged = prior.unionByName(spark.createDataFrame([(b, "s")], schema))
        publish_batch(merged, state, b, files=1)
    # no sibling copy beside the root: the state is its root alone
    assert [n for n in os.listdir(tmp_path) if n.startswith("state")] == [
        "state"
    ]
    assert sorted(os.listdir(state)) == ["batch=1", "batch=2"]
    assert rows(read_state(spark, state, schema)) == [
        (0, "s"), (1, "s"), (2, "s"),
    ]

    # a version without _SUCCESS (a failed or killed write) is skipped
    publish([(9, "torn")], state, 3)
    os.remove(os.path.join(state, "batch=3", "_SUCCESS"))
    assert rows(read_state(spark, state, schema)) == [
        (0, "s"), (1, "s"), (2, "s"),
    ]
    assert rows(read_state(spark, state, schema, before=4)) == [
        (0, "s"), (1, "s"), (2, "s"),
    ]

    empty = read_state(spark, str(tmp_path / "no_state"), schema)
    assert empty.schema.simpleString() == "struct<k:bigint,v:string>"
    assert empty.count() == 0
