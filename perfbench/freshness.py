"""File-to-epoch mapping for the census freshness metric.

A file's freshness is the time from its scheduled drop to the end of the
micro-batch (epoch) that committed it.  The epoch of each file comes from
the file source's checkpoint log (``<checkpoint>/sources/0/<batchId>``, one
JSON entry per file after a version line; every tenth batch is a
``.compact`` file that repeats the earlier entries).  The end of an epoch is
its progress event's ``timestamp`` (trigger start) plus
``durationMs.triggerExecution``; commit-file mtimes are too coarse for this.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from urllib.parse import urlparse


def read_source_log(source_dir: str) -> dict[str, int]:
    """Map each committed file's base name to the batch that read it."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_dir):
        return out
    for name in os.listdir(source_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            base = os.path.basename(urlparse(entry["path"]).path)
            out.setdefault(base, int(entry["batchId"]))
    return out


def parse_ts(ts: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-02T03:04:05.678Z."""
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def executed_batches(progress: list[dict]) -> dict[int, dict]:
    """Progress events of batches that ran (idle triggers report no
    ``addBatch``), keyed by batch id."""
    return {
        int(p["batchId"]): p
        for p in progress
        if "addBatch" in (p.get("durationMs") or {})
    }


def epoch_window(p: dict) -> tuple[float, float]:
    start = parse_ts(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def freshness(
    due: dict[str, float], file_epoch: dict[str, int], progress: list[dict],
    speed: float = 1.0,
) -> tuple[dict[str, float], list[str]]:
    """Per-file freshness in seconds for every file in ``due`` (base name ->
    scheduled drop time), plus the files that no executed epoch committed.

    ``speed`` (see ``calibrate.py``) divides the part of a file's freshness
    the machine's speed sets, its epoch's ``triggerExecution``; the wait
    from the drop to the epoch's trigger is kept as measured."""
    batches = executed_batches(progress)
    samples: dict[str, float] = {}
    missing: list[str] = []
    for name, t_due in due.items():
        epoch = file_epoch.get(name)
        if epoch is None or epoch not in batches:
            missing.append(name)
            continue
        start, end = epoch_window(batches[epoch])
        samples[name] = start - t_due + (end - start) / speed
    return samples, missing


def on_time(
    due: dict[str, float], file_epoch: dict[str, int], progress: list[dict],
    trigger_s: float,
) -> set[str]:
    """The files committed within one trigger interval of the first trigger
    at or after their drop.  Triggers fire on wall-clock multiples of
    ``trigger_s``; with no backlog, every epoch ends before the next one is
    due, so every file is on time.  Only when epochs outlast the interval,
    and a backlog builds, do files miss it."""
    batches = executed_batches(progress)
    out = set()
    for name, t_due in due.items():
        epoch = file_epoch.get(name)
        if epoch is None or epoch not in batches:
            continue
        trigger = math.ceil(t_due / trigger_s) * trigger_s
        if epoch_window(batches[epoch])[1] <= trigger + trigger_s:
            out.add(name)
    return out


def backlog_max(
    due: dict[str, float], file_epoch: dict[str, int], progress: list[dict]
) -> int:
    """The most files that were due but not yet committed when an executed
    epoch started."""
    worst = 0
    for batch_id, p in executed_batches(progress).items():
        start = epoch_window(p)[0]
        waiting = sum(
            1
            for name, t_due in due.items()
            if t_due <= start and file_epoch.get(name, batch_id) >= batch_id
        )
        worst = max(worst, waiting)
    return worst
