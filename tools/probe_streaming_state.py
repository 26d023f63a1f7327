"""Streaming STATE decade probe (round-10 VERDICT item 3): the batch
operators all carry measured 1x/10x/100x laws; this extends the same
discipline to the two stateful streaming paths, measuring per-epoch
wall time, state-store row counts (from StreamingQueryProgress
stateOperators metrics) and on-disk checkpoint/state size as the stream
scales two decades.

Paths probed:

* session merging (the m7/m12 shape): ``session_windows`` (gap-based
  session aggregation with a watermark) over E epochs of K users. The
  law that matters at 100 TB: state rows track ACTIVE sessions inside
  the watermark horizon (O(keys)), not stream history — per-epoch cost
  and state size must be flat-per-key across epochs and ~linear in
  keys, with the watermark evicting closed sessions.
* sketch maintenance (the m13 shape): foreachBatch KMV upsert — the
  persisted sketch table (the two versions kept on disk) must stay
  O(k * groups) BYTES CONSTANT while the ingested corpus grows 100x
  (that is the point of a sketch), with per-epoch wall ~linear in wave
  size.

Scales: rows 20k / 200k / 2M split over 4 epochs; session keys scale
with rows (1k / 10k / 100k). Deterministic data from spark.range — no
RNG, no testdata dependency. Run alone (quiet-bench rule).

Usage: python tools/probe_streaming_state.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

EPOCHS = 4
SCALES = [(20_000, 1_000), (200_000, 10_000), (2_000_000, 100_000)]


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def make_waves(spark, base: str, rows: int, keys: int) -> str:
    """E parquet wave files of an event stream: user_id cycles over
    ``keys``; event times advance so each wave is a later time slice
    (sessions within a wave, watermark closes them by the next)."""
    in_dir = os.path.join(base, "in")
    per = rows // EPOCHS
    for e in range(EPOCHS):
        (
            spark.range(per)
            .select(
                F.pmod(F.col("id"), F.lit(keys)).alias("user_id"),
                # seconds: wave e occupies [e*3600, e*3600 + ~600): bursts
                # of activity with 60s gaps between bursts -> several
                # sessions per user per wave, all expired by wave e+1
                F.to_timestamp(
                    F.lit(e * 3600)
                    + F.pmod(F.col("id") * 7, F.lit(600))
                    + F.floor(F.col("id") / F.lit(keys)) * 90
                ).alias("ts"),
                F.col("id").alias("event_id"),
            )
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(os.path.join(in_dir, f"wave{e}"))
        )
    return in_dir


def probe_sessions(spark, base: str, rows: int, keys: int) -> dict:
    from apache_spark_streaming_project_spark.streaming.windows import (
        session_windows,
    )

    in_dir = make_waves(spark, base, rows, keys)
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    schema = "user_id long, ts timestamp, event_id long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # one wave (2 files) per epoch
        .parquet(os.path.join(in_dir, "wave*"))
    )
    sess = session_windows(
        stream, "ts", ["user_id"], gap="30 seconds", watermark="10 minutes"
    )
    t0 = time.monotonic()
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.monotonic() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    epochs = []
    for p in prog:
        so = (p.get("stateOperators") or [{}])[0]
        epochs.append(
            {
                "input_rows": p.get("numInputRows"),
                "batch_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows_total": so.get("numRowsTotal"),
                "state_mem_bytes": so.get("memoryUsedBytes"),
                "rows_removed": so.get("numRowsRemoved"),
            }
        )
    n_sessions = spark.read.parquet(out).count()
    return {
        "wall_s": round(wall, 1),
        "epochs": epochs,
        "sessions_emitted": n_sessions,
        "state_disk_bytes": du(os.path.join(ckpt, "state")),
    }


def probe_kmv(spark, base: str, rows: int, keys: int) -> dict:
    from apache_spark_streaming_project_spark.operators.mergeable import (
        kmv_merge,
        kmv_sketch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        publish_batch,
        read_state,
    )

    k = 256
    in_dir = make_waves(spark, base, rows, keys)
    state = os.path.join(base, "sketch_state")
    ckpt = os.path.join(base, "ckpt_kmv")
    schema = "user_id long, ts timestamp, event_id long"

    epoch_walls = []

    def upsert(batch_df, batch_id):
        t0 = time.monotonic()
        sk = kmv_sketch(
            batch_df.select(
                F.col("event_id").cast("string").alias("item"),
                F.lit(1).alias("g"),
            ),
            ["g"],
            "item",
            k,
        )
        prior = read_state(
            batch_df.sparkSession, state, sk.schema, before=batch_id
        )
        merged = kmv_merge(prior.unionByName(sk), ["g"], k)
        publish_batch(merged, state, batch_id, files=1)
        epoch_walls.append(round(time.monotonic() - t0, 2))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(os.path.join(in_dir, "wave*"))
    )
    t0 = time.monotonic()
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "wall_s": round(time.monotonic() - t0, 1),
        "epoch_walls_s": epoch_walls,
        "sketch_rows": read_state(spark, state, "g int, hv long").count(),
        "sketch_disk_bytes": du(state),
    }


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "tools/probe_streaming_state.json"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("probe_streaming_state")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = {"sessions": [], "kmv": []}
    for rows, keys in SCALES:
        for name, fn in (("sessions", probe_sessions), ("kmv", probe_kmv)):
            base = tempfile.mkdtemp(prefix=f"probe_stream_{name}_{rows}_")
            try:
                r = fn(spark, base, rows, keys)
            finally:
                shutil.rmtree(base, ignore_errors=True)
            r.update({"rows": rows, "keys": keys})
            results[name].append(r)
            print(name, rows, json.dumps(r))
    Path(out_path).write_text(json.dumps(results, indent=1))
    print("wrote", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
