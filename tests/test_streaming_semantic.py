"""m20_streaming_semantic_dedup (round-13): embedding-cosine streaming
dedup over a frozen coarse codebook with a persisted per-cell index.
End-to-end run at sf0.001 against a pure-numpy all-pairs replay of the
declared semantics (with a CELL RECALL BREAK vs verification-bug split,
the m14b diagnosability precedent), plant-family and fixture-margin
assertions, replay idempotency, and the compaction invariant for the
new stores."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from conftest import store_kept, store_rows

from apache_spark_streaming_project_spark.entry_queries import (
    _M20_T,
    QUERIES,
    _m20_vecs,
)
from apache_spark_streaming_project_spark.operators.dedup import (
    streaming_semantic_dedup_batch,
)
from apache_spark_streaming_project_spark.operators.similarity import (
    _sq_dists,
    ivf_index,
)

SF_DIR = "/root/testdata/sf0.001"


def _fixture(spark):
    rows = [
        (r["vec_id"], r["epoch"], np.asarray(r["embedding"], np.float64))
        for r in _m20_vecs(spark, SF_DIR).collect()
    ]
    return sorted(rows, key=lambda r: (r[1], r[0]))


def _cosines(ordered):
    V = np.array([v for _, _, v in ordered])
    nrm = np.linalg.norm(V, axis=1)
    return (V @ V.T) / np.outer(nrm, nrm)


def _py_kept(ordered, C, t=_M20_T):
    kept = []
    for pos, (vid, e, _) in enumerate(ordered):
        if pos == 0 or C[pos, :pos].max() < t:
            kept.append((vid, e))
    return sorted(kept)


def test_m20_end_to_end_matches_python_ground_truth(spark):
    out = QUERIES["m20_streaming_semantic_dedup"].fn(spark, SF_DIR)
    kept = sorted((r["vec_id"], r["epoch"]) for r in out.collect())
    ordered = _fixture(spark)
    C = _cosines(ordered)
    want = _py_kept(ordered, C)

    if kept != want:
        # Unlike m19 (gram index, recall 1 by construction) the cell
        # index is approximate: split the failure so a fixture change
        # that erodes soft-assignment recall is named, not a bare diff.
        over_kept = sorted(set(kept) - set(want))
        e_nat = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        _, centroids = ivf_index(e_nat, n_centroids=16)
        cent = np.asarray(centroids, np.float64)
        V = np.array([v for _, _, v in ordered])
        top2 = np.argsort(_sq_dists(V, cent), axis=1, kind="stable")[:, :2]
        pos_of = {vid: p for p, (vid, _, _) in enumerate(ordered)}
        recall_breaks = []
        for vid, _e in over_kept:
            p = pos_of[vid]
            partners = np.nonzero(C[p, :p] >= _M20_T)[0]
            if partners.size and not any(
                set(top2[p]) & set(top2[q]) for q in partners
            ):
                recall_breaks.append(vid)
        raise AssertionError(
            f"CELL RECALL BREAK for {recall_breaks}: a >=t pair missed "
            "both top-2 cells under the frozen codebook"
            if recall_breaks
            else f"verification bug: kept != ground truth, diff="
            f"{sorted(set(kept) ^ set(want))[:10]}"
        )

    # plant families (see the _M20_T block comment in entry_queries)
    kept_ids = {k for k, _ in kept}
    orig_ids = {vid for vid, _, _ in ordered if 0 <= vid < 1_000_000}
    assert all(v + 1_000_000 not in kept_ids for v in orig_ids), (
        "a LATE near-copy survived"
    )
    assert all(
        (v - 1_000_000 in kept_ids) and (v not in kept_ids)
        for v in orig_ids
        if v % 50 == 7
    ), "keep-FIRST direction broken on an EARLY-plant pair"
    assert all(
        v + 2_000_000 in kept_ids for v in orig_ids if v % 50 == 3
    ), "a sub-threshold MEDIUM plant was dropped"


def test_m20_fixture_margins(spark):
    """The closed-form oracle is exact only while the fixture margins
    hold: every must-drop pair well above t, everything else well below.
    Pin them so erosion fails here with a name, not at the value hash."""
    ordered = _fixture(spark)
    C = _cosines(ordered)
    iu = np.triu_indices(len(ordered), 1)
    sims = C[iu]
    below = sims[sims < _M20_T]
    above = sims[sims >= _M20_T]
    assert below.max() < 0.92, "sub-threshold margin eroded"
    assert above.min() > 0.99, "plant-pair margin eroded"


def _rows(spark, store):
    return store_rows(spark, store)


def _kept(spark, vec_store):
    return store_kept(spark, vec_store, key="vec_id")


def _centroids(spark):
    e_nat = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _, centroids = ivf_index(e_nat, n_centroids=16)
    return centroids


def test_m20_replay_is_idempotent(spark, tmp_path):
    d = _m20_vecs(spark, SF_DIR)
    centroids = _centroids(spark)
    cell, vec = str(tmp_path / "cell"), str(tmp_path / "vec")
    for i in (0, 1):
        streaming_semantic_dedup_batch(
            d.filter(F.col("epoch") == i), cell, vec, centroids, i
        )
    cell_once, vec_once = _rows(spark, cell), _rows(spark, vec)
    streaming_semantic_dedup_batch(
        d.filter(F.col("epoch") == 1), cell, vec, centroids, 1
    )
    assert _rows(spark, cell) == cell_once
    assert _rows(spark, vec) == vec_once


def test_m20_requantize_equals_fresh_codebook_history(spark, tmp_path):
    """Re-quantization maintenance (requantize_cell_store): rebuilding
    the cell index from the vec store under a NEW codebook must equal
    the cell store a pipeline would have built had that codebook been
    frozen from the start — and continued ingestion against the rebuilt
    index must match the fresh-codebook twin. (The vec store is the
    system of record; the cell store is derived state.)"""
    from apache_spark_streaming_project_spark.operators.dedup import (
        requantize_cell_store,
    )

    d = _m20_vecs(spark, SF_DIR)
    cent_a = _centroids(spark)
    e_nat = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _, cent_b = ivf_index(e_nat, n_centroids=24, seed=7)

    # history under codebook A
    cell_a, vec_a = str(tmp_path / "cell_a"), str(tmp_path / "vec_a")
    for i in (0, 1):
        streaming_semantic_dedup_batch(
            d.filter(F.col("epoch") == i), cell_a, vec_a, cent_a, i
        )
    # maintenance: rebuild the index under codebook B into a fresh dir
    cell_re = str(tmp_path / "cell_re")
    requantize_cell_store(spark, vec_a, cell_re, cent_b)

    # twin pipeline that froze codebook B from the start
    cell_b, vec_b = str(tmp_path / "cell_b"), str(tmp_path / "vec_b")
    for i in (0, 1):
        streaming_semantic_dedup_batch(
            d.filter(F.col("epoch") == i), cell_b, vec_b, cent_b, i
        )
    assert _rows(spark, cell_re) == _rows(spark, cell_b)

    # continued ingestion: the rebuilt index takes batch publishes into
    # batch=<id> subdirs next to its flat files (mixed layout) and must
    # adjudicate epoch 2 exactly like the fresh-codebook twin
    wave = d.filter(F.col("epoch") == 2)
    streaming_semantic_dedup_batch(wave, cell_re, vec_a, cent_b, 2)
    streaming_semantic_dedup_batch(wave, cell_b, vec_b, cent_b, 2)
    assert _kept(spark, vec_a) == _kept(spark, vec_b)


def test_m20_store_compaction_preserves_results(spark, tmp_path):
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        compact_store,
    )

    d = _m20_vecs(spark, SF_DIR)
    centroids = _centroids(spark)
    cell, vec = str(tmp_path / "cell"), str(tmp_path / "vec")
    for i in (0, 1):
        streaming_semantic_dedup_batch(
            d.filter(F.col("epoch") == i), cell, vec, centroids, i
        )
    cell_c, vec_c = str(tmp_path / "cell_c"), str(tmp_path / "vec_c")
    compact_store(spark, cell, cell_c, 1)
    compact_store(spark, vec, vec_c, 1)
    assert _rows(spark, cell_c) == _rows(spark, cell)
    assert _rows(spark, vec_c) == _rows(spark, vec)

    wave = d.filter(F.col("epoch") == 2)
    streaming_semantic_dedup_batch(wave, cell, vec, centroids, 2)
    streaming_semantic_dedup_batch(wave, cell_c, vec_c, centroids, 2)
    assert _kept(spark, vec_c) == _kept(spark, vec)
