"""Sink truncation utility (S7 — reference reset_database.py:9-37 drops the
8 Mongo collections; here the 8 result tables live in 3 parquet sink
directories, so reset = remove the sink dirs + the checkpoint so the next run
starts from offset zero)."""

from __future__ import annotations

import shutil
from pathlib import Path

from apache_spark_streaming_project_spark.schemas import SINK_TABLES


def reset_results(
    output_dir: str,
    checkpoint_dir: str | None = None,
    keep_checkpoint: bool = False,
) -> list[str]:
    """Delete all sink directories plus the checkpoint. Returns
    the paths removed.

    The checkpoint is part of the reset CONTRACT, not an option: deleting
    the tables while the checkpoint still marks every input file as
    processed leaves the pipeline permanently unable to rebuild them (the
    source sees no new files — unlike the reference's reset_database +
    restart, which re-ingested everything). A half-reset therefore
    requires the caller to say so explicitly with ``keep_checkpoint=True``
    (e.g. truncating outputs while a NEW input directory is being wired
    in); omitting ``checkpoint_dir`` without that flag raises."""
    if checkpoint_dir is None and not keep_checkpoint:
        raise ValueError(
            "reset_results without checkpoint_dir leaves the committed "
            "offsets in place — the tables can never be rebuilt from the "
            "already-processed input. Pass checkpoint_dir, or "
            "keep_checkpoint=True to half-reset deliberately."
        )
    removed = []
    for name in SINK_TABLES:
        p = Path(output_dir) / name
        if p.exists():
            shutil.rmtree(p)
            removed.append(str(p))
    if checkpoint_dir and Path(checkpoint_dir).exists():
        shutil.rmtree(checkpoint_dir)
        removed.append(checkpoint_dir)
    return removed
