"""The micro-batch store layout: how a ``foreachBatch`` body persists its
output and how that output is read back.

Where the reference inserts rows one by one into Mongo
(spark_streaming.py:99-197), a micro-batch here overwrites its own
``root/batch=<id>/`` directory. ``foreachBatch`` is at-least-once — a
failure between the sink write and the checkpoint commit re-delivers the
batch — and the replay rewrites identical content, a no-op (the sink
contract of the Structured Streaming paper, SIGMOD 2018); a blind append
would double every re-delivered row.

``read_store`` reads recursively: directory names are ignored, so no
``batch`` column appears, and the flat part files of a ``compact_store``
output mix with the ``batch=<id>/`` directories published after it (older
``batch-<id>/`` stores read the same). The corpus-lifetime stores (dedup,
ANN codes, sketches, connected components) are read this way. Sinks that
are never compacted and need the writer's batch id (m15, m17, m18, m21)
are read with a plain ``spark.read.parquet``, whose partition discovery
turns ``batch=<id>`` into a ``batch`` column.

A state table (m13's sketch, m23's winners) is the same layout read the
other way: batch b folds the state it reads into its own rows and
publishes the result once, as state version ``batch=<b>``. ``read_state``
serves batch b the newest complete version below b (complete: it has
``_SUCCESS``), so a replay of b reads version b-1 even after its first
attempt wrote ``batch=<b>``, and a write that failed or was killed leaves
an incomplete directory that no read sees. Every batch below b is
committed and never replays, so ``read_state`` deletes the versions older
than the one it serves, and at most two stay on disk. A state root is
never read with ``read_store``: a recursive read would union the kept
versions.

Imports nothing from ``operators/``, so every operator module can use it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def publish_batch(
    df: DataFrame, root: str, batch_id: int, files: int | None = None
) -> None:
    """Overwrite ``root/batch=<batch_id>`` with ``df``, coalesced to
    ``files`` part files when given."""
    if files is not None:
        df = df.coalesce(files)
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"batch={int(batch_id)}")
    )


def read_store(
    spark: SparkSession, root: str, schema: str | StructType | None = None
) -> DataFrame:
    """Recursive-lookup read of a store; an empty frame of ``schema``
    when given and ``root`` does not exist yet (before the first
    publish)."""
    if schema is not None and not os.path.isdir(root):
        return spark.createDataFrame([], schema)
    return spark.read.option("recursiveFileLookup", "true").parquet(root)


def compact_store(spark: SparkSession, root: str, out: str, files: int) -> None:
    """Rewrite a store as ``files`` flat part files in the fresh directory
    ``out`` (shuffle-free ``coalesce``; writing beside the live store and
    swapping does not race its readers). New batches may publish into
    ``out`` afterwards."""
    read_store(spark, root).coalesce(files).write.mode("overwrite").parquet(
        out
    )


def read_state(
    spark: SparkSession,
    root: str,
    schema: str | StructType,
    before: int | None = None,
) -> DataFrame:
    """The newest state version ``root/batch=<k>`` that has ``_SUCCESS``
    and ``k < before`` (any ``k`` when ``before`` is None); an empty frame
    of ``schema`` when there is none. With ``before``, the versions older
    than the returned one are deleted."""

    def path(v: int) -> str:
        return os.path.join(root, f"batch={v}")

    names = os.listdir(root) if os.path.isdir(root) else []
    ids = (int(n[len("batch="):]) for n in names if n.startswith("batch="))
    complete = sorted(
        v
        for v in ids
        if (before is None or v < before)
        and os.path.isfile(os.path.join(path(v), "_SUCCESS"))
    )
    if not complete:
        return spark.createDataFrame([], schema)
    if before is not None:
        for v in complete[:-1]:
            shutil.rmtree(path(v))
    return spark.read.parquet(path(complete[-1]))
