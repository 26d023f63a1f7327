"""Crash-window fault injection for the two-store streaming dedup
lifecycles (round-12 VERDICT item 3).

Each streaming dedup batch body publishes to TWO corpus-lifetime stores
in a fixed order (m14/m14b: text then band; m19: text then gram). foreachBatch is at-least-once: a crash in the window BETWEEN
the two publishes leaves the stores mutually inconsistent (the first
store has the batch's subdirectory, the second does not), and the batch
is re-run after restart. These tests inject a crash exactly in that
window and prove the retry HEALS: final store contents are
byte-identical to a never-crashed twin pipeline, even though the retry's
reads see the torn first-store state (the partial batch's rows come back
as "earlier texts" — the subtle path that makes this worth pinning
rather than arguing).

The maintenance (m16) counterpart: a crash between the two store
compactions leaves one store compacted and one fragmented. Because
compaction is content-preserving and ``compact_store`` overwrites its
output directory, a restarted maintenance job recovers idempotently, and
even the torn mixed pair (one compacted, one original) ingests
identically.

Mirrors the flat-table MERGE path's ``.retired`` crash-recovery story
(streaming/upsert.py:144) for the batch-keyed dedup stores.

The state-table (m23) counterpart: a state version write that fails
inside its Spark job leaves a version directory without ``_SUCCESS``,
which ``read_state`` never serves, and the restarted drain replays the
batch to the state of a run that never failed."""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from conftest import store_kept, store_rows

from apache_spark_streaming_project_spark.entry_queries import _M14B_T
from apache_spark_streaming_project_spark.operators import dedup, sampling
from apache_spark_streaming_project_spark.streaming.batch_store import (
    compact_store,
    read_state,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(spark, store):
    return store_rows(spark, store)


def _kept(spark, text_store):
    return store_kept(spark, text_store)


@contextmanager
def _crash_between_publishes():
    """Replace dedup.publish_batch so the FIRST publish of the
    next batch body lands for real and the SECOND raises before writing
    anything — the exact torn state a mid-batch executor/driver loss
    leaves behind. Yields a state dict recording which store the first
    (surviving) publish went to, so each test can pin the documented
    publish order."""
    real = dedup.publish_batch
    state = {"calls": 0, "first_store": None}

    def crashing(df, store, batch_id, files=None):
        state["calls"] += 1
        if state["calls"] >= 2:
            raise RuntimeError(
                "injected crash between the two store publishes"
            )
        state["first_store"] = store
        real(df, store, batch_id, files)

    dedup.publish_batch = crashing
    try:
        yield state
    finally:
        dedup.publish_batch = real


@pytest.mark.parametrize("t", [_M14B_T, 1.0])  # m14b, m14
def test_m14b_crash_between_publishes_heals_on_retry(spark, tmp_path, t):
    from apache_spark_streaming_project_spark.entry_queries import (
        _m14b_docs,
    )

    d = _m14b_docs(spark, SF_DIR)
    band, text = str(tmp_path / "band"), str(tmp_path / "text")
    for i in (0, 1):
        dedup.streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), band, text, t, i
        )

    # crash batch 2 between publishes: text/batch=2 lands, band/batch=2
    # does not (pins the documented text-then-band publish order)
    with _crash_between_publishes() as state:
        with pytest.raises(RuntimeError, match="injected crash"):
            dedup.streaming_threshold_dedup_batch(
                d.filter(F.col("epoch") == 2), band, text, t, 2
            )
    assert state["first_store"] == text
    assert os.path.isdir(os.path.join(text, "batch=2"))
    assert not os.path.isdir(os.path.join(band, "batch=2"))

    # retry (restart re-delivers batch 2). The retry's candidate verify
    # re-reads the text store WITH the torn batch-2 rows present — the
    # batch-keyed overwrite must still converge to the crash-free state.
    dedup.streaming_threshold_dedup_batch(
        d.filter(F.col("epoch") == 2), band, text, t, 2
    )

    band2, text2 = str(tmp_path / "band2"), str(tmp_path / "text2")
    for i in (0, 1, 2):
        dedup.streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), band2, text2, t, i
        )
    assert _rows(spark, band) == _rows(spark, band2)
    assert _rows(spark, text) == _rows(spark, text2)

    # and ingestion AFTER the healed crash behaves identically too
    wave = d.filter(F.col("epoch") == 0).withColumn(
        "epoch", F.lit(3).cast("bigint")
    )
    dedup.streaming_threshold_dedup_batch(wave, band, text, t, 3)
    dedup.streaming_threshold_dedup_batch(wave, band2, text2, t, 3)
    assert _kept(spark, text) == _kept(spark, text2)


def test_m19_crash_between_publishes_heals_on_retry(spark, tmp_path):
    from apache_spark_streaming_project_spark.entry_queries import (
        _M19_T,
        _m19_docs,
    )

    d = _m19_docs(spark, SF_DIR)
    gram, text = str(tmp_path / "gram"), str(tmp_path / "text")
    for i in (0, 1):
        dedup.streaming_containment_dedup_batch(
            d.filter(F.col("epoch") == i), gram, text, _M19_T, i
        )

    # m19 publishes text first, gram second
    with _crash_between_publishes() as state:
        with pytest.raises(RuntimeError, match="injected crash"):
            dedup.streaming_containment_dedup_batch(
                d.filter(F.col("epoch") == 2), gram, text, _M19_T, 2
            )
    assert state["first_store"] == text
    assert os.path.isdir(os.path.join(text, "batch=2"))
    assert not os.path.isdir(os.path.join(gram, "batch=2"))

    dedup.streaming_containment_dedup_batch(
        d.filter(F.col("epoch") == 2), gram, text, _M19_T, 2
    )

    gram2, text2 = str(tmp_path / "gram2"), str(tmp_path / "text2")
    for i in (0, 1, 2):
        dedup.streaming_containment_dedup_batch(
            d.filter(F.col("epoch") == i), gram2, text2, _M19_T, i
        )
    assert _rows(spark, gram) == _rows(spark, gram2)
    assert _rows(spark, text) == _rows(spark, text2)


def test_m20_crash_between_publishes_heals_on_retry(spark, tmp_path):
    from apache_spark_streaming_project_spark.entry_queries import (
        _m20_vecs,
    )
    from apache_spark_streaming_project_spark.operators.similarity import (
        ivf_index,
    )

    e_nat = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _, centroids = ivf_index(e_nat, n_centroids=16)
    d = _m20_vecs(spark, SF_DIR)
    cell, vec = str(tmp_path / "cell"), str(tmp_path / "vec")
    dedup.streaming_semantic_dedup_batch(
        d.filter(F.col("epoch") == 0), cell, vec, centroids, 0
    )

    # m20 publishes the vec store first, cell store second
    with _crash_between_publishes() as state:
        with pytest.raises(RuntimeError, match="injected crash"):
            dedup.streaming_semantic_dedup_batch(
                d.filter(F.col("epoch") == 1), cell, vec, centroids, 1
            )
    assert state["first_store"] == vec
    assert os.path.isdir(os.path.join(vec, "batch=1"))
    assert not os.path.isdir(os.path.join(cell, "batch=1"))

    dedup.streaming_semantic_dedup_batch(
        d.filter(F.col("epoch") == 1), cell, vec, centroids, 1
    )

    cell2, vec2 = str(tmp_path / "cell2"), str(tmp_path / "vec2")
    for i in (0, 1):
        dedup.streaming_semantic_dedup_batch(
            d.filter(F.col("epoch") == i), cell2, vec2, centroids, i
        )
    assert _rows(spark, cell) == _rows(spark, cell2)
    assert _rows(spark, vec) == _rows(spark, vec2)


def test_m23_failed_state_write_recovers_on_restart(
    spark, tmp_path, monkeypatch
):
    """An m23 fold drains 3 overlapping waves; the batch-1 state write
    fails inside its Spark job, after the overwrite has created
    ``batch=1``. The version left without ``_SUCCESS`` is skipped, so
    ``read_state`` still serves version 0; the drain restarted from its
    checkpoint replays batch 1 and ends row-for-row on a clean run's
    state, with two versions on disk."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _drain_waves,
        _write_waves,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    m = F.col("doc_id") % 3
    waves = [d.filter((m == i) | (m == (i + 1) % 3)) for i in range(3)]
    in_dir = str(tmp_path / "in")
    _write_waves(waves, in_dir)
    order = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":m23")))
    schema = "doc_id long, lang string"

    def drain(state, ckpt):
        def fold(batch_df, batch_id):
            sampling.streaming_quota_sample_batch(
                batch_df, ["lang"], 10, order, state, batch_id
            )

        _drain_waves(spark, in_dir, ckpt, fold, d.schema)

    def state_rows(state):
        return sorted(map(tuple, read_state(spark, state, schema).collect()))

    real = sampling.publish_batch

    def boom(row):
        raise RuntimeError("injected state write failure")

    def failing(df, root, batch_id, files=None):
        if batch_id == 1:  # a row-wise UDF fails in the write's last stage
            df = df.filter(F.udf(boom, "boolean")(F.struct(*df.columns)))
        real(df, root, batch_id, files)

    state, ckpt = str(tmp_path / "winners"), str(tmp_path / "ckpt")
    monkeypatch.setattr(sampling, "publish_batch", failing)
    with pytest.raises(Exception, match="injected state write failure"):
        drain(state, ckpt)
    monkeypatch.undo()

    torn = os.path.join(state, "batch=1")
    assert os.path.isdir(torn)
    assert not os.path.exists(os.path.join(torn, "_SUCCESS"))
    version0 = sampling.stratified_sample(waves[0], ["lang"], 10, order)
    assert state_rows(state) == sorted(map(tuple, version0.collect()))

    drain(state, ckpt)
    clean = str(tmp_path / "clean")
    drain(clean, str(tmp_path / "clean_ckpt"))
    assert state_rows(state) == state_rows(clean)
    assert sorted(os.listdir(state)) == ["batch=1", "batch=2"]


def test_maintenance_crash_between_compactions_recovers(spark, tmp_path):
    """m16's maintenance window: compact band, CRASH before compacting
    text. Recovery path 1 — the restarted maintenance job re-runs both
    compactions (``compact_store`` overwrites its output, so the
    half-done first compaction is republished idempotently). Recovery
    path 2 — even the torn mixed pair (compacted band + original text)
    ingests identically, because compaction is content-preserving. Both
    paths end byte-identical to a never-crashed run."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _m14b_docs,
    )

    d = _m14b_docs(spark, SF_DIR)
    band, text = str(tmp_path / "band"), str(tmp_path / "text")
    for i in (0, 1):
        dedup.streaming_threshold_dedup_batch(
            d.filter(F.col("epoch") == i), band, text, _M14B_T, i
        )

    band_c = str(tmp_path / "band_c")
    text_c = str(tmp_path / "text_c")
    compact_store(spark, band, band_c, 1)
    # --- injected crash: text never compacted ---

    # recovery path 1: restart re-runs the WHOLE maintenance job
    compact_store(spark, band, band_c, 1)
    compact_store(spark, text, text_c, 1)
    assert _rows(spark, band_c) == _rows(spark, band)
    assert _rows(spark, text_c) == _rows(spark, text)

    # ingestion against the recovered stores == against the originals
    wave = d.filter(F.col("epoch") == 2)
    band_o = str(tmp_path / "band_o")
    text_o = str(tmp_path / "text_o")
    shutil.copytree(band, band_o, copy_function=os.link)
    shutil.copytree(text, text_o, copy_function=os.link)
    dedup.streaming_threshold_dedup_batch(
        wave, band_c, text_c, _M14B_T, 2
    )
    dedup.streaming_threshold_dedup_batch(
        wave, band_o, text_o, _M14B_T, 2
    )
    assert _kept(spark, text_c) == _kept(spark, text_o)

    # recovery path 2: the torn MIXED pair (compacted band + original
    # fragmented text) also ingests identically — an operator that
    # resumed against the half-maintained stores would still be correct
    band_m = str(tmp_path / "band_m")
    text_m = str(tmp_path / "text_m")
    compact_store(spark, band, band_m, 1)
    shutil.copytree(text, text_m, copy_function=os.link)
    dedup.streaming_threshold_dedup_batch(
        wave, band_m, text_m, _M14B_T, 2
    )
    assert _kept(spark, text_m) == _kept(spark, text_o)


def test_torn_compaction_output_is_overwritten(spark, tmp_path):
    """A crash DURING a compaction write can leave a partial output
    directory (stray part files, _temporary debris). ``compact_store``
    publishes with mode=overwrite, so the re-run replaces the torn
    directory wholesale instead of merging with it."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.range(100).withColumn("v", F.col("id") * 2).repartition(
        8
    ).write.parquet(src)

    # torn first attempt: wrong content + debris already at the target
    spark.range(5).withColumn("v", F.lit(-1).cast("bigint")).write.parquet(
        out
    )
    os.makedirs(os.path.join(out, "_temporary"), exist_ok=True)

    compact_store(spark, src, out, 1)
    assert _rows(spark, out) == _rows(spark, src)
    assert len(
        [f for f in os.listdir(out) if f.startswith("part-")]
    ) == 1
