"""m19_streaming_containment_dedup (round-13): containment-mode
streaming dedup with a persisted per-shingle inverted index — the
doc-inside-doc fragment shape round 12 deferred because LSH bands
approximate Jaccard, not containment. End-to-end run at sf0.001 against
a pure-Python replay of the declared semantics, plant-edge assertions,
and the replay-idempotency contract for the new batch body."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from conftest import store_kept, store_rows

from apache_spark_streaming_project_spark.entry_queries import QUERIES
from apache_spark_streaming_project_spark.operators.dedup import (
    streaming_containment_dedup_batch,
)

SF_DIR = "/root/testdata/sf0.001"
# the engine tokenizes on the explicit ASCII class (text.WS_PATTERN),
# so the ground-truth replay must too — NOT python \s (unicode-wide)
_WS = re.compile(r"[ \t\n\f\r]+")


def _grams(text: str, n: int = 8) -> frozenset[str]:
    toks = [t for t in _WS.split(text.strip().lower()) if t]
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _fixture(spark):
    from apache_spark_streaming_project_spark.entry_queries import (
        _m19_docs,
    )

    return [
        (r["doc_id"], r["epoch"], r["text"])
        for r in _m19_docs(spark, SF_DIR).collect()
    ]


def _py_kept(fixture, t=0.6):
    ordered = sorted(fixture, key=lambda r: (r[1], r[0]))
    sh = [(i, e, _grams(txt)) for i, e, txt in ordered]
    kept = []
    for pos, (i, e, s) in enumerate(sh):
        dropped = len(s) > 0 and any(
            len(s & s2) / len(s) >= t for _, _, s2 in sh[:pos]
        )
        if not dropped:
            kept.append((i, e))
    return sorted(kept)


def test_m19_end_to_end_matches_python_ground_truth(spark):
    out = QUERIES["m19_streaming_containment_dedup"].fn(spark, SF_DIR)
    kept = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    want = _py_kept(_fixture(spark))
    # candidate recall is 1 BY CONSTRUCTION (any containment >= t pair
    # shares a gram, and every gram of every arrival is indexed), so
    # unlike m14b there is no recall caveat to diagnose: any mismatch
    # is a semantics bug.
    assert kept == want

    kept_ids = {k for k, _ in kept}
    # fragment-after-page dropped through the persisted cross-epoch index
    assert -19 not in kept_ids and -20 in kept_ids
    # REVERSED arrival: page-after-fragment kept (asymmetric denominator)
    assert -18 in kept_ids and -17 in kept_ids
    # threshold edge: C = 3/5 = 0.6 exactly -> dropped at >=
    assert -15 not in kept_ids and -16 in kept_ids
    # sub-threshold: C = 2/5 = 0.4 -> kept at t = 0.6
    assert -13 in kept_ids and -14 in kept_ids
    # intra-batch pair (same epoch): fragment dropped via self-index arm
    assert -11 not in kept_ids and -12 in kept_ids
    # the natural corpus contributes real containment drops too — the
    # bulk path is exercised, not just plants (sf0.001 has cross-doc
    # duplicated 8-gram docs; if this ever degenerates the fixture has
    # changed and the plants are carrying the whole query)
    natural_dropped = [
        (i, e) for (i, e, _) in _fixture(spark)
        if i >= 0 and (i, e) not in set(kept)
    ]
    assert natural_dropped, "fixture degenerate: no natural drops"


def test_m19_plant_gram_arithmetic():
    """The plant constants encode exact gram counts (m-token doc ->
    m-7 grams; shared contiguous L-token run -> L-7 shared grams).
    Pin the arithmetic the registration docstring claims."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _M19_EDGE_E,
        _M19_EDGE_F,
        _M19_FRAG_B,
        _M19_FRAG_C,
        _M19_PAGE_A,
        _M19_PAGE_D,
        _M19_SUB_G,
        _M19_SUB_H,
    )

    a, b = _grams(_M19_PAGE_A), _grams(_M19_FRAG_B)
    assert len(b) == 5 and len(b & a) == 5  # C = 1
    c, d = _grams(_M19_FRAG_C), _grams(_M19_PAGE_D)
    assert len(d) == 23 and len(d & c) == 5  # C = 5/23 < 0.6
    e, f = _grams(_M19_EDGE_E), _grams(_M19_EDGE_F)
    assert len(f) == 5 and len(f & e) == 3  # C = 0.6 exactly
    g, h = _grams(_M19_SUB_G), _grams(_M19_SUB_H)
    assert len(h) == 5 and len(h & g) == 2  # C = 0.4


def test_m19_replay_is_idempotent(spark, tmp_path):
    """At-least-once retry of a micro-batch republishes identical
    content into its own batch=<id> subdir (streaming/batch_store.py:
    publish_batch) — store contents and kept set unchanged."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _M19_T,
        _m19_docs,
    )

    d = _m19_docs(spark, SF_DIR)
    gram, text = str(tmp_path / "gram"), str(tmp_path / "text")

    def rows(store):
        return store_rows(spark, store)

    for i in (0, 1):
        streaming_containment_dedup_batch(
            d.filter(F.col("epoch") == i), gram, text, _M19_T, i
        )
    gram_once, text_once = rows(gram), rows(text)
    streaming_containment_dedup_batch(
        d.filter(F.col("epoch") == 1), gram, text, _M19_T, 1
    )
    assert rows(gram) == gram_once
    assert rows(text) == text_once


def test_m19_store_compaction_preserves_results(spark, tmp_path):
    """The m16 maintenance invariant extended to the containment
    stores: they publish through the same batch-keyed seam, so
    compact-into-new-dir mid-run must leave the kept set and continued
    ingestion unchanged (the gram index is the heaviest store any
    streaming dedup mode carries — the one a 100 TB deployment compacts
    most often)."""
    import glob

    from apache_spark_streaming_project_spark.entry_queries import (
        _M19_T,
        _m19_docs,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        compact_store,
    )

    d = _m19_docs(spark, SF_DIR)
    gram, text = str(tmp_path / "gram"), str(tmp_path / "text")
    for i in (0, 1):
        streaming_containment_dedup_batch(
            d.filter(F.col("epoch") == i), gram, text, _M19_T, i
        )
    n_frag = len(glob.glob(gram + "/**/part-*", recursive=True))
    assert n_frag >= 2
    gram_c = str(tmp_path / "gram_c")
    text_c = str(tmp_path / "text_c")
    compact_store(spark, gram, gram_c, 1)
    compact_store(spark, text, text_c, 1)
    assert len(glob.glob(gram_c + "/part-*")) == 1

    streaming_containment_dedup_batch(
        d.filter(F.col("epoch") == 2), gram, text, _M19_T, 2
    )
    streaming_containment_dedup_batch(
        d.filter(F.col("epoch") == 2), gram_c, text_c, _M19_T, 2
    )

    def kept(store):
        return store_kept(spark, store)

    assert kept(text_c) == kept(text)

