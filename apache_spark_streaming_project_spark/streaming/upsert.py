"""Streaming MERGE/upsert sink (S2 x X1 composition, no reference
counterpart — reference sinks are append-only Mongo insert loops,
spark_streaming.py:99-197): each micro-batch UPSERTS into a parquet
"table" via ``foreachBatch``, keeping the NEWEST version per key — the
continuously-maintained corpus table every incremental ingest pipeline
ends in (the streaming face of ``operators/dedup.merge_upsert`` /
``x1_incremental_dedup``).

Semantics are keep-max-version (upsert-if-newer), NOT last-batch-wins:
the merge is a ranking window over (current table UNION batch) ordered by
the version column, so the result is

  * ORDER-INDEPENDENT — micro-batch boundaries and file arrival order
    cannot change the outcome (file sources order by modification time,
    which is not a contract);
  * IDEMPOTENT under batch replay — re-merging an already-applied batch
    reproduces the identical table, which is exactly the guarantee
    ``foreachBatch`` needs for effective exactly-once on top of its
    at-least-once delivery.

Layout: ``streaming_merge_upsert`` always runs
``merge_batch_into_partitioned_table``. The table lives hash-bucketed by
key (``pbucket=k/`` hive directories, via sources/partitioned.py, with
the layout pinned in a ``_layout.json`` sidecar); each merge computes
the batch's bucket set, reads ONLY those partitions (pruned at
file-listing time), merges, and swaps ONLY those directories —
untouched partitions are never listed, read, or rewritten
(byte-identical after the merge, test-asserted). Per-merge cost is
O(touched partitions + batch), the same touched-files-only contract a
Delta/Iceberg MERGE INTO provides, and this sink remains the drop-in
seam for one. ``merge_batch_into_table`` is the flat O(table + batch)
full-rewrite merge with the same semantics; tests and
tools/probe_upsert_scale.py use it as the reference the bucketed merge
must equal. Swaps are write-to-staging + directory rename, so readers never observe a half-written partition;
a crash between renames leaves the pre-merge state in a ``.retired``
directory, which the next merge RESTORES before reading (see
``_recover_interrupted_swap`` — replay alone is not enough: without the
restore, the replayed batch would see no current data and drop every
non-batch row) and then heals by idempotent re-merge.

SINGLE WRITER: one merge at a time per table. Structured Streaming's
``foreachBatch`` serializes batches within a query, which is the
intended deployment; two concurrent queries (or a backfill racing the
stream) merging the same ``table_dir`` would interleave swap renames
with no coordination — point them at separate tables or serialize
externally. Readers are safe at any time (directory renames are atomic;
a reader sees each partition either pre- or post-swap, never half).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.window import Window

from apache_spark_streaming_project_spark.operators.dedup import (
    latest_version_dedup,
)

_BUCKET_COL = "pbucket"


def _validate_staging_suffix(staging_suffix: str) -> None:
    """The stale-staging sweep identifies orphans by the ``.staging``
    name prefix; a caller-supplied suffix outside that namespace would
    (a) never be swept — the cleanup contract would silently not apply —
    and (b) risk the sweep deleting an unrelated sibling path that
    happens to share the prefix. Enforce the namespace up front instead
    of letting the contract quietly lapse."""
    if not staging_suffix.startswith(".staging"):
        raise ValueError(
            f"staging_suffix must start with '.staging' (got "
            f"{staging_suffix!r}): the crash-recovery sweep only reclaims "
            "orphans inside that namespace"
        )


def _sweep_stale_staging(table_dir: str) -> None:
    """Delete orphaned staging directories from crashed merges. Staging
    dirs are per-batch (``<table>.staging-<batch_id>``); a crash orphans
    that batch's dir, and because recovery otherwise only heals dirs for
    the batch_id being REPLAYED, stale siblings from other batch ids
    would accumulate on disk forever. Safe under the single-writer
    contract (module docstring): no concurrent merge can own a staging
    dir while this merge runs, so anything matching the prefix is
    garbage by definition (every merge validates its suffix into the
    ``.staging`` namespace via :func:`_validate_staging_suffix`). Runs
    alongside the ``.retired`` healing pass at the start of every
    merge."""
    parent = os.path.dirname(os.path.abspath(table_dir)) or "."
    base = os.path.basename(os.path.abspath(table_dir))
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if entry.startswith(base + ".staging"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def merge_batch_into_table(
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    staging_suffix: str = ".staging",
) -> None:
    """One MERGE step: (current table UNION batch) -> newest version per
    key -> atomic swap into ``table_dir``. Exposed separately from the
    streaming writer so batch backfills use the identical code path."""
    spark = batch_df.sparkSession
    _validate_staging_suffix(staging_suffix)
    _recover_interrupted_swap(table_dir)
    _sweep_stale_staging(table_dir)
    if os.path.exists(table_dir):
        current = spark.read.parquet(table_dir)
        candidates = current.unionByName(batch_df)
    else:
        candidates = batch_df
    merged = latest_version_dedup(
        candidates, key_cols, [F.col(version_col).desc()]
    )
    staging = table_dir + staging_suffix
    merged.write.mode("overwrite").parquet(staging)
    retired = table_dir + ".retired"
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.exists(table_dir):
        os.rename(table_dir, retired)
    os.rename(staging, table_dir)
    shutil.rmtree(retired, ignore_errors=True)


def _recover_interrupted_swap(live_path: str) -> None:
    """Heal a crash that landed BETWEEN the two swap renames: the live
    path was moved to ``<live>.retired`` but the staging rename never
    happened. Without recovery, the replayed batch would see no current
    data and the merge would silently DROP every non-batch row — "replay
    heals it" only holds if the pre-merge state is first restored. Two
    crash states, both resolved here before any read:

      * live missing + retired present  -> crash mid-swap: the retired
        dir IS the pre-merge state; restore it (the replay then redoes
        the merge, which is idempotent);
      * live present + retired present  -> crash after the swap, before
        cleanup: the live dir already holds the merged result; drop the
        stale retired copy.
    """
    retired = live_path + ".retired"
    if os.path.exists(retired):
        if not os.path.exists(live_path):
            os.rename(retired, live_path)
        else:
            shutil.rmtree(retired)


def merge_batch_into_partitioned_table(
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    n_buckets: int = 64,
    staging_suffix: str = ".staging",
) -> list[int]:
    """Partition-PRUNED merge step: the table is hive-partitioned by
    ``pbucket = pmod(xxhash64(keys), n_buckets)`` and a merge touches only
    the buckets the batch's keys hash into.

      1. bucket the batch (map-only hash, no shuffle);
      2. the affected bucket set is a <= n_buckets-row driver collect
         (bounded by construction — n_buckets is a layout constant, never
         data-sized);
      3. the current table is read with an ``isin(affected)`` filter on
         the partition column — pruning happens at FILE-LISTING time
         (PartitionFilters in the scan), so untouched partitions cost
         nothing, not even a footer read;
      4. newest-version-per-key within the union (same order-independent,
         replay-idempotent keep-max-version semantics as
         :func:`merge_batch_into_table`);
      5. the merged output is written staging-partitioned and ONLY the
         affected ``pbucket=k`` directories are swapped in — every other
         directory keeps its exact bytes.

    At 100 TB this is the difference between rewriting the corpus per
    micro-batch and rewriting ~batch-sized slices of it. Sizing (the
    measured law — tools/probe_upsert_scale.py, BASELINE.md): a batch of
    B uniformly-hashed distinct keys touches ~min(B, n_buckets) buckets,
    so per-merge cost is O(min(B, n_buckets)/n_buckets x table + batch)
    — the pruning wins exactly when B is small relative to ``n_buckets``
    and converges to the flat rewrite as B approaches n_buckets. Pick
    ``n_buckets`` large relative to per-batch key counts while keeping
    one bucket a few executor tasks' worth of data. ``pmod`` over
    ``xxhash64`` is total (NULL keys fold into the hash seed), so every
    row lands in one of the ``n_buckets`` directories.
    Returns the affected bucket ids (for tests / observability)."""
    spark = batch_df.sparkSession
    _validate_staging_suffix(staging_suffix)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
    # Heal a sibling `<table>.retired` left by a crashed FLAT merge.
    # Without this, a caller invoking the partitioned merge on that state
    # would see table_dir absent, build a batch-only table, and a LATER
    # _recover_interrupted_swap would see live+retired and delete the
    # retired copy: silent loss of every pre-crash row. No-op when no
    # sibling .retired exists.
    _recover_interrupted_swap(table_dir)
    data_cols = list(batch_df.columns)
    if _BUCKET_COL in data_cols:
        raise ValueError(f"batch already has a {_BUCKET_COL!r} column")
    # The bucket function IS the table layout: merging with a different
    # one silently splits each key's history across directories (old rows
    # under the old bucket, new rows under the new — the newest-version
    # window then never sees both). A `_layout.json` sidecar (underscore
    # prefix: invisible to Spark's reader, like _SUCCESS) pins the layout
    # at first merge and every later merge must match it. The sidecar
    # stores the structural parameters (key_cols, n_buckets), never
    # `str(Column)` — Column repr is not a stable serialization across
    # Spark classic/Connect versions.
    layout = {
        "bucket_col": _BUCKET_COL,
        "kind": "hash",
        "key_cols": list(key_cols),
        "n_buckets": int(n_buckets),
    }
    layout_path = os.path.join(table_dir, "_layout.json")
    if os.path.exists(layout_path):
        with open(layout_path) as fh:
            existing = json.load(fh)
        if existing != layout:
            raise ValueError(
                "bucket layout mismatch: table was built with "
                f"{existing}, this merge supplies {layout} — merging "
                "across layouts would split key histories across "
                "directories; rebuild the table to change its layout"
            )
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
    batch = batch_df.withColumn(_BUCKET_COL, bucket.cast("int"))
    affected = sorted(
        r[0] for r in batch.select(_BUCKET_COL).distinct().collect()
    )
    if not affected:  # empty micro-batch: nothing to merge
        return affected
    # heal any bucket directory a previous crash left mid-swap BEFORE
    # reading the current table (see _recover_interrupted_swap), and
    # sweep staging dirs orphaned by crashes of OTHER batch ids (a replay
    # only overwrites its own batch's staging dir)
    if os.path.isdir(table_dir):
        for entry in os.listdir(table_dir):
            if entry.endswith(".retired"):
                _recover_interrupted_swap(
                    os.path.join(table_dir, entry[: -len(".retired")])
                )
        # A table_dir holding FLAT parquet files (e.g. restored by the
        # sibling heal above, or a caller pointing the partitioned merge
        # at a flat table) must not be merged into bucketed: the swap
        # would land `pbucket=k/` dirs NEXT TO the flat files and every
        # later read would double-count. Fail before any I/O — the flat
        # table is intact.
        stray = [
            e
            for e in os.listdir(table_dir)
            if not e.startswith(f"{_BUCKET_COL}=")
            and not e.startswith("_")
            and not e.startswith(".")
            and not e.endswith(".retired")
        ]
        if stray:
            raise ValueError(
                f"{table_dir} holds non-bucketed entries {stray[:3]} — it "
                "is a FLAT table; merge it with merge_batch_into_table or "
                "rebuild it bucketed"
            )
    _sweep_stale_staging(table_dir)
    # "table exists" = has at least one bucket directory: a crash between
    # makedirs and the first rename may leave an EMPTY table_dir, which a
    # replayed batch must treat as no-table (read.parquet on an empty dir
    # errors instead of returning an empty relation)
    has_table = os.path.isdir(table_dir) and any(
        e.startswith(f"{_BUCKET_COL}=") for e in os.listdir(table_dir)
    )
    if has_table:
        current = (
            spark.read.parquet(table_dir)
            .filter(F.col(_BUCKET_COL).isin([int(b) for b in affected]))
            .select(
                *data_cols, F.col(_BUCKET_COL).cast("int").alias(_BUCKET_COL)
            )
        )
        candidates = current.unionByName(batch)
    else:
        candidates = batch
    # ONE shuffle total: repartition by bucket FIRST, then rank the
    # window over (bucket, keys) — HashPartitioning(bucket) satisfies
    # ClusteredDistribution(bucket, keys) because bucket is a function of
    # the keys, so Catalyst inserts no second exchange for the window
    # (plan-asserted in tests). The naive latest_version_dedup-then-
    # repartition shape shuffles the touched data twice, which the scale
    # probe (tools/probe_upsert_scale.py) measured as the dominant cost.
    w = Window.partitionBy(_BUCKET_COL, *key_cols).orderBy(
        F.col(version_col).desc()
    )
    merged = (
        candidates.repartition(F.col(_BUCKET_COL))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    staging = table_dir + staging_suffix
    shutil.rmtree(staging, ignore_errors=True)
    # already partitioned by bucket: one writing task per directory, no
    # small-files explosion (sources/partitioned.py rationale)
    merged.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(staging)
    # Every affected bucket MUST have a staging dir: `affected` came from
    # the batch's own rows, each of which survives into `merged` (it is
    # either the newest version of its key or superseded by another batch/
    # table row in the SAME bucket). A missing dir is therefore a broken
    # invariant — fail BEFORE touching the live table. The old shape
    # (`if exists(src): rename`) inside the loop would, on a missing src,
    # retire the live bucket and then delete the retired copy: permanent
    # data loss for that bucket.
    missing = [
        b
        for b in affected
        if not os.path.isdir(os.path.join(staging, f"{_BUCKET_COL}={b}"))
    ]
    if missing:
        raise RuntimeError(
            f"staging write produced no directory for affected buckets "
            f"{missing} — refusing to swap (live table untouched)"
        )
    os.makedirs(table_dir, exist_ok=True)
    # Pin the layout BEFORE the first swap: a crash after bucket k's
    # rename but before a post-swap sidecar write would leave a populated
    # bucketed table with no layout pin, letting a later merge with a
    # different layout pass the missing-sidecar check and silently split
    # key histories. Sidecar-first closes that window (a crash after this
    # write but before any swap just leaves a pinned-but-empty table,
    # which `has_table` already treats correctly). The sidecar is
    # underscore-prefixed, so Spark's reader never sees it either way.
    if not os.path.exists(layout_path):
        with open(layout_path, "w") as fh:
            json.dump(layout, fh)
    for b in affected:
        src = os.path.join(staging, f"{_BUCKET_COL}={b}")
        dst = os.path.join(table_dir, f"{_BUCKET_COL}={b}")
        retired = dst + ".retired"
        shutil.rmtree(retired, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, retired)
        os.rename(src, dst)
        shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return affected


def streaming_merge_upsert(
    stream_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    n_buckets: int,
) -> DataStreamWriter:
    """``foreachBatch`` writer that maintains ``table_dir`` as the
    newest-version-per-key table over the change stream, hash-bucketed
    ``n_buckets`` ways: each micro-batch merge rewrites only the
    partitions containing batch keys
    (:func:`merge_batch_into_partitioned_table`). The caller sets the
    checkpoint and trigger and starts it (``entry_queries._drain``)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_partitioned_table(
            batch_df, table_dir, key_cols, version_col,
            n_buckets=n_buckets,
            staging_suffix=f".staging-{batch_id}",
        )

    return stream_df.writeStream.foreachBatch(_apply)
