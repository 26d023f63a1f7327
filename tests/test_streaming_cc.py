"""m25_streaming_cc (round-13): union-find cluster state maintained
under ingest as assign + remap append-only stores. Pins streamed
resolve == batch connected components, arrival-permutation invariance,
the crash-window replay contract (a retried batch resolves against
strictly-prior state via the batch_id column), and that the fixture
genuinely produces remap chains (depth >= 2) so the pointer-doubling
chase is load-bearing."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.entry_queries import (
    QUERIES,
    _m25_edges,
)
from apache_spark_streaming_project_spark.operators.dedup import (
    near_dup_clusters,
    resolve_cc_assignments,
    streaming_cc_batch,
)
from apache_spark_streaming_project_spark.streaming.batch_store import (
    read_store,
)

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return _m25_edges(d).localCheckpoint()


def _resolved(spark, base):
    return sorted(
        (r["key"], r["root"])
        for r in resolve_cc_assignments(
            spark, f"{base}/assign", f"{base}/remap"
        ).collect()
    )


def _fold(edges, base, order):
    for i in order:
        streaming_cc_batch(
            edges.filter(F.col("epoch") == i).select("key_a", "key_b"),
            f"{base}/assign",
            f"{base}/remap",
            i,
        )


def test_m25_streamed_resolve_equals_batch_cc(spark, tmp_path):
    edges = _edges(spark)
    base = str(tmp_path / "cc")
    _fold(edges, base, [0, 1, 2])
    direct = sorted(
        (r["key"], r["cluster_id"])
        for r in near_dup_clusters(edges, "key_a", "key_b").collect()
    )
    assert _resolved(spark, base) == direct

    # the fixture must produce at least one remap CHAIN (an old_root
    # whose new_root is itself remapped later) — otherwise the
    # chase-to-fixpoint resolve would be fixture-untested
    remap = {
        r["old_root"]: r["new_root"]
        for r in read_store(spark, f"{base}/remap").collect()
    }
    assert any(v in remap for v in remap.values()), (
        "no depth>=2 remap chain in fixture"
    )


def test_m25_arrival_permutation_invariance(spark, tmp_path):
    edges = _edges(spark)
    results = []
    for perm in ([0, 1, 2], [2, 0, 1], [1, 2, 0]):
        base = str(tmp_path / f"cc_{''.join(map(str, perm))}")
        _fold(edges, base, perm)
        results.append(_resolved(spark, base))
    assert results[0] == results[1] == results[2]


def test_m25_crash_window_replay(spark, tmp_path):
    """The fault-injection case the batch_id exclusion exists for: batch
    1 published its stores but the checkpoint never committed, so the
    engine re-delivers it. The replay must recompute byte-identical
    content from strictly-prior state — NOT see its own publishes,
    project everything to self-loops, and empty its own dirs."""
    edges = _edges(spark)
    base = str(tmp_path / "cc")
    _fold(edges, base, [0, 1])
    mid = _resolved(spark, base)
    # replay batch 1 against stores that already contain batch 1
    streaming_cc_batch(
        edges.filter(F.col("epoch") == 1).select("key_a", "key_b"),
        f"{base}/assign",
        f"{base}/remap",
        1,
    )
    assert _resolved(spark, base) == mid
    # and the run continues to the same final state as a clean run
    _fold(edges, base, [2])
    clean = str(tmp_path / "cc_clean")
    _fold(edges, clean, [0, 1, 2])
    assert _resolved(spark, base) == _resolved(spark, clean)


def test_m25_end_to_end_matches_ground_truth(spark):
    out = QUERIES["m25_streaming_cc"].fn(spark, SF_DIR).collect()
    # python ground truth: union-find over the full edge list
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = _edges(spark).collect()
    for r in edges:
        ra, rb = find(r["key_a"]), find(r["key_b"])
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    want = sorted((k, find(k)) for k in parent)
    assert sorted((r["key"], r["cluster_id"]) for r in out) == want


def test_m25_compaction_is_path_compression(spark, tmp_path):
    """compact_cc_store: resolution over the compacted store is
    row-identical, the compacted deployment has no remap chains left,
    and continued ingestion reaches the same final state as a
    never-compacted run (the m16 transparency contract)."""
    from apache_spark_streaming_project_spark.operators.dedup import (
        compact_cc_store,
    )

    edges = _edges(spark)
    base = str(tmp_path / "cc")
    _fold(edges, base, [0, 1])
    before = _resolved(spark, base)

    compacted = str(tmp_path / "cc_compact")
    compact_cc_store(
        spark, f"{base}/assign", f"{base}/remap", f"{compacted}/assign"
    )
    # row-identical resolution, with NO remap store at all
    assert _resolved(spark, compacted) == before

    # continued ingestion against the compacted store == clean run
    streaming_cc_batch(
        edges.filter(F.col("epoch") == 2).select("key_a", "key_b"),
        f"{compacted}/assign",
        f"{compacted}/remap",
        2,
    )
    clean = str(tmp_path / "cc_clean")
    _fold(edges, clean, [0, 1, 2])
    assert _resolved(spark, compacted) == _resolved(spark, clean)
