"""Crash-window and input-hardening tests for the partitioned streaming
MERGE (streaming/upsert.py) — the production seam every incremental
corpus pipeline ends in. The reference's own sink (spark_streaming.py:
99-197) is an append-only Mongo loop with no recovery story at all;
these tests prove ours survives a kill at EVERY point of the swap loop,
not just the hand-enumerated single-bucket states:

  * exhaustive rename-fault sweep: inject a crash after the Nth rename
    for every N, replay, and assert the table equals the flat-merge
    reference — covering MIXED pre/post-swap bucket sets;
  * a real subprocess SIGKILL mid-swap-loop, then replay in the parent;
  * sidecar-first layout pinning (a crash after the first swap can no
    longer leave a populated table with no layout pin);
  * missing staging dir for an affected bucket fails BEFORE the live
    bucket is retired (no delete-the-only-copy path);
  * stale sibling staging dirs from crashed OTHER batch ids are swept.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.streaming.upsert import (
    merge_batch_into_partitioned_table,
    merge_batch_into_table,
)


def _snap(spark, path):
    return {
        (r.k, r.version, r.payload)
        for r in spark.read.parquet(path)
        .select("k", "version", "payload")
        .collect()
    }


def test_missing_staging_dir_fails_before_retiring_live(spark, tmp_path):
    """If the staging write somehow produced no directory for an affected
    bucket, the merge must refuse BEFORE touching the live table. The old
    loop shape would retire the live bucket and then delete the retired
    copy — permanently losing that bucket's only copy."""
    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(40)], ["k", "version", "payload"]
    )
    merge_batch_into_partitioned_table(b1, table, ["k"], "version", n_buckets=8)
    before = _snap(spark, table)

    b2 = spark.createDataFrame(
        [(3, 2, "v2-3"), (7, 2, "v2-7")], ["k", "version", "payload"]
    )
    # which bucket does key 3 land in under the default hash layout?
    bucket_of_3 = spark.createDataFrame([(3,)], ["k"]).select(
        F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("b")
    ).collect()[0].b
    # sabotage: make the post-write invariant check believe the staging
    # write produced no directory for that bucket — exactly the state the
    # guard exists for. The guard must raise BEFORE any rename touches
    # the live table (no retire-then-delete-the-only-copy path).
    real_isdir = os.path.isdir
    suffix = f".staging-X/pbucket={bucket_of_3}"

    def lying_isdir(p):
        if str(p).endswith(suffix):
            return False
        return real_isdir(p)

    real_rename = os.rename

    def forbidden_rename(src, dst):
        raise AssertionError("live table must not be touched after the guard")

    os.path.isdir = lying_isdir
    os.rename = forbidden_rename
    try:
        with pytest.raises(RuntimeError, match="refusing to swap"):
            merge_batch_into_partitioned_table(
                b2, table, ["k"], "version", n_buckets=8,
                staging_suffix=".staging-X",
            )
    finally:
        os.path.isdir = real_isdir
        os.rename = real_rename
    # live table untouched by the refused attempt
    assert _snap(spark, table) == before
    assert not any(e.endswith(".retired") for e in os.listdir(table))
    # replay (unsabotaged) heals: the sweep removes the orphaned staging
    # dir and the merge completes end-to-end
    merge_batch_into_partitioned_table(
        b2, table, ["k"], "version", n_buckets=8, staging_suffix=".staging-X"
    )
    want = {(i, 1, f"v1-{i}") for i in range(40) if i not in (3, 7)} | {
        (3, 2, "v2-3"),
        (7, 2, "v2-7"),
    }
    assert _snap(spark, table) == want
    assert not os.path.exists(table + ".staging-X")


def test_stale_staging_dirs_from_other_batches_swept(spark, tmp_path):
    """Staging dirs orphaned by crashes of OTHER batch ids (which a
    replay of THIS batch would never overwrite) are deleted at merge
    start — they must not accumulate forever. Both merge paths."""
    flat = str(tmp_path / "flat")
    ptab = str(tmp_path / "ptab")
    b = spark.createDataFrame([(1, 1, "a")], ["k", "version", "payload"])
    for orphan in (flat + ".staging-7", ptab + ".staging-7"):
        os.makedirs(orphan)
        with open(os.path.join(orphan, "junk"), "w") as fh:
            fh.write("orphaned by a crashed batch 7")
    merge_batch_into_table(b, flat, ["k"], "version", staging_suffix=".staging-8")
    merge_batch_into_partitioned_table(
        b, ptab, ["k"], "version", n_buckets=4, staging_suffix=".staging-8"
    )
    assert not os.path.exists(flat + ".staging-7")
    assert not os.path.exists(ptab + ".staging-7")
    assert not os.path.exists(flat + ".staging-8")
    assert not os.path.exists(ptab + ".staging-8")


def test_layout_sidecar_written_before_first_swap(spark, tmp_path):
    """Sidecar-first ordering: crash the FIRST merge before any swap
    rename — the layout pin must already be on disk, so a later merge
    with a DIFFERENT layout is rejected instead of silently splitting
    key histories (the exact failure the sidecar exists to prevent)."""
    table = str(tmp_path / "t")
    b = spark.createDataFrame(
        [(i, 1, "x") for i in range(20)], ["k", "version", "payload"]
    )
    real_rename = os.rename

    def explode(src, dst):
        raise RuntimeError("injected: die before first swap rename")

    os.rename = explode
    try:
        with pytest.raises(RuntimeError, match="injected"):
            merge_batch_into_partitioned_table(
                b, table, ["k"], "version", n_buckets=8
            )
    finally:
        os.rename = real_rename
    # the pin survived the crash...
    with open(os.path.join(table, "_layout.json")) as fh:
        assert json.load(fh)["n_buckets"] == 8
    # ...so a different layout is refused even though no data landed
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_batch_into_partitioned_table(
            b, table, ["k"], "version", n_buckets=16
        )
    # and the original layout replays to a healthy table
    merge_batch_into_partitioned_table(b, table, ["k"], "version", n_buckets=8)
    assert _snap(spark, table) == {(i, 1, "x") for i in range(20)}


def test_exhaustive_crash_sweep_over_swap_loop(spark, tmp_path):
    """Kill the merge after EVERY possible rename in the swap loop (the
    on-disk state after raising inside os.rename is byte-identical to a
    SIGKILL at that instant: renames are the only persistent effects
    after the staging write), replay the batch, and assert the table
    equals the flat-merge reference. This covers every MIXED pre/post-
    swap bucket set, which the hand-enumerated single-bucket states in
    test_streaming.py cannot."""
    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(60)], ["k", "version", "payload"]
    )
    b2 = spark.createDataFrame(
        [(k, 2, f"v2-{k}") for k in (1, 5, 9, 13, 27, 41)] + [(990, 2, "new")],
        ["k", "version", "payload"],
    )
    want = {(i, 1, f"v1-{i}") for i in range(60) if i not in (1, 5, 9, 13, 27, 41)}
    want |= {(k, 2, f"v2-{k}") for k in (1, 5, 9, 13, 27, 41)} | {(990, 2, "new")}

    pristine = str(tmp_path / "pristine")
    merge_batch_into_partitioned_table(b1, pristine, ["k"], "version", n_buckets=8)

    # learn how many renames a clean second merge performs
    table = str(tmp_path / "t")
    shutil.copytree(pristine, table)
    real_rename = os.rename
    count = {"n": 0}

    def counting(src, dst):
        count["n"] += 1
        return real_rename(src, dst)

    os.rename = counting
    try:
        touched = merge_batch_into_partitioned_table(
            b2, table, ["k"], "version", n_buckets=8
        )
    finally:
        os.rename = real_rename
    total = count["n"]
    assert len(touched) >= 3  # the sweep needs a multi-bucket swap loop
    assert total == 2 * len(touched)  # retire + land per affected bucket
    assert _snap(spark, table) == want

    for fail_at in range(total):
        shutil.rmtree(table)
        shutil.copytree(pristine, table)
        seen = {"n": 0}

        def dying(src, dst, _fail_at=fail_at):
            if seen["n"] == _fail_at:
                raise RuntimeError(f"injected crash at rename #{_fail_at}")
            seen["n"] += 1
            return real_rename(src, dst)

        os.rename = dying
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                merge_batch_into_partitioned_table(
                    b2, table, ["k"], "version", n_buckets=8,
                    staging_suffix=".staging-2",
                )
        finally:
            os.rename = real_rename
        # replay over the mixed pre/post-swap state
        merge_batch_into_partitioned_table(
            b2, table, ["k"], "version", n_buckets=8, staging_suffix=".staging-2"
        )
        assert _snap(spark, table) == want, f"diverged after crash at {fail_at}"
        leftovers = [
            e for e in os.listdir(table) if e.endswith(".retired")
        ]
        assert not leftovers, f"unhealed {leftovers} after crash at {fail_at}"
        assert not os.path.exists(table + ".staging-2")
        assert os.path.exists(os.path.join(table, "_layout.json"))


def test_subprocess_sigkill_mid_swap_then_replay(spark, tmp_path):
    """The real thing: a child process running the partitioned merge is
    SIGKILLed after the 3rd swap rename (mid-loop — some buckets swapped,
    some not, one possibly retired-but-not-landed). The parent then
    replays the same batch and must converge to the flat-merge reference
    with no .retired/.staging leftovers."""
    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(60)], ["k", "version", "payload"]
    )
    merge_batch_into_partitioned_table(b1, table, ["k"], "version", n_buckets=8)

    script = tmp_path / "killer.py"
    script.write_text(textwrap.dedent(f"""
        import os, signal, sys
        sys.path.insert(0, {str(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))!r})
        from apache_spark_streaming_project_spark import get_spark
        from apache_spark_streaming_project_spark.streaming.upsert import (
            merge_batch_into_partitioned_table,
        )

        spark = get_spark("chaos-child", cpus=2, shuffle_partitions=2)
        b2 = spark.createDataFrame(
            [(k, 2, "v2-%d" % k) for k in (1, 5, 9, 13, 27, 41)]
            + [(990, 2, "new")],
            ["k", "version", "payload"],
        )
        real_rename = os.rename
        n = [0]

        def lethal(src, dst):
            if n[0] == 3:  # after bucket renames 0..2, before the 4th
                os.kill(os.getpid(), signal.SIGKILL)
            n[0] += 1
            return real_rename(src, dst)

        os.rename = lethal
        merge_batch_into_partitioned_table(
            b2, {str(table)!r}, ["k"], "version", n_buckets=8,
            staging_suffix=".staging-2",
        )
        os.rename = real_rename
        raise SystemExit("unreachable: the merge should have been killed")
    """))
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == -9, (proc.returncode, proc.stdout, proc.stderr)
    # the kill landed mid-loop: disk state is a mixed pre/post-swap set
    entries = os.listdir(table)
    assert any(e.startswith("pbucket=") for e in entries)

    # parent replays the identical batch over the carnage
    b2 = spark.createDataFrame(
        [(k, 2, f"v2-{k}") for k in (1, 5, 9, 13, 27, 41)] + [(990, 2, "new")],
        ["k", "version", "payload"],
    )
    merge_batch_into_partitioned_table(
        b2, table, ["k"], "version", n_buckets=8, staging_suffix=".staging-2"
    )
    want = {(i, 1, f"v1-{i}") for i in range(60) if i not in (1, 5, 9, 13, 27, 41)}
    want |= {(k, 2, f"v2-{k}") for k in (1, 5, 9, 13, 27, 41)} | {(990, 2, "new")}
    assert _snap(spark, table) == want
    assert not any(e.endswith(".retired") for e in os.listdir(table))
    assert not os.path.exists(table + ".staging-2")


def test_partitioned_merge_heals_sibling_retired_from_crashed_flat_merge(
    spark, tmp_path
):
    """Round-7 ADVICE (medium): a crashed FLAT merge leaves
    `<table>.retired` with the only copy of the data and `<table>`
    absent. Invoking the PARTITIONED merge
    directly on that state used to build a batch-only table, after which
    a later heal saw live+retired and deleted the retired copy — silent
    loss of every pre-crash row. Now the partitioned merge heals the
    sibling first, then refuses to bucket-merge into the restored FLAT
    table — data intact."""
    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(20)], ["k", "version", "payload"]
    )
    merge_batch_into_table(b1, table, ["k"], "version")
    # simulate the mid-swap crash state: live moved to .retired, staging
    # rename never happened
    os.rename(table, table + ".retired")
    b2 = spark.createDataFrame([(3, 2, "v2-3")], ["k", "version", "payload"])
    with pytest.raises(ValueError, match="FLAT table"):
        merge_batch_into_partitioned_table(
            b2, table, ["k"], "version", n_buckets=8
        )
    # the heal restored the pre-crash table; nothing was lost or mixed in
    assert not os.path.exists(table + ".retired")
    assert _snap(spark, table) == {(i, 1, f"v1-{i}") for i in range(20)}


def test_partitioned_merge_refuses_flat_table_dir(spark, tmp_path):
    """Pointing the partitioned merge at an existing FLAT table must fail
    before any I/O: swapping `pbucket=k/` dirs next to flat parquet files
    would make every later read double-count."""
    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(i, 1, f"v1-{i}") for i in range(20)], ["k", "version", "payload"]
    )
    merge_batch_into_table(b1, table, ["k"], "version")
    b2 = spark.createDataFrame([(3, 2, "v2-3")], ["k", "version", "payload"])
    with pytest.raises(ValueError, match="FLAT table"):
        merge_batch_into_partitioned_table(
            b2, table, ["k"], "version", n_buckets=8
        )
    assert _snap(spark, table) == {(i, 1, f"v1-{i}") for i in range(20)}


def test_staging_suffix_outside_namespace_rejected(spark, tmp_path):
    """Round-7 ADVICE (low): the stale-staging sweep reclaims orphans by
    the '.staging' name prefix; a suffix outside that namespace would
    silently escape the cleanup contract (and risk the sweep deleting an
    unrelated sibling). Both merge entry points validate it."""
    table = str(tmp_path / "t")
    batch = spark.createDataFrame([(1, 1, "a")], ["k", "version", "payload"])
    for call in (
        lambda: merge_batch_into_table(
            batch, table, ["k"], "version", staging_suffix="_tmp"
        ),
        lambda: merge_batch_into_partitioned_table(
            batch, table, ["k"], "version", staging_suffix="_tmp"
        ),
    ):
        with pytest.raises(ValueError, match=r"\.staging"):
            call()
    assert not os.path.exists(table)  # nothing was created
