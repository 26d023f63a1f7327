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

Imports nothing from ``operators/``, so every operator module can use it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


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
    spark: SparkSession, root: str, schema: str | None = None
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


def replace_state(df: DataFrame, state_dir: str) -> None:
    """Replace a small state table with ``df``, which may read it: write
    ``<state_dir>.next``, then rewrite ``state_dir`` from that, so no job
    reads and overwrites the same files."""
    tmp = state_dir + ".next"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    df.sparkSession.read.parquet(tmp).coalesce(1).write.mode(
        "overwrite"
    ).parquet(state_dir)
