"""Per-epoch cost law for the streaming heavy-hitter sketch ingest
(m24's batch body). Same claim class as m22: the per-batch summary is
map-side (partial_heavy_hitters bounds it to <= candidates rows per
group per Arrow batch), the publish is batch-keyed, and the sketch
store is NEVER READ during ingest — so per-epoch cost is O(batch)
with no corpus-lifetime term. This probe drives N equal epochs of a
synthetic skewed item stream (Zipf-flavored: hot items via modulus
skew) through streaming_heavy_hitters_batch and reports per-epoch
seconds next to the growing store; flat is the only acceptable shape.

Usage: python tools/probe_hh_ingest_epochs.py [per_epoch] [epochs]
Writes tools/probe_hh_ingest_epochs.json.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    per_epoch = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.operators.mergeable import (
        streaming_heavy_hitters_batch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # skewed stream: xxhash-derived uniform over ~100k distinct tails,
    # with every 10th row collapsed onto one of 8 hot heads
    n = per_epoch * epochs
    items = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % epochs).alias("epoch"),
            (F.pmod(F.xxhash64("id"), F.lit(4)))
            .cast("string")
            .alias("grp"),
            F.when(
                F.col("id") % 10 == 0,
                F.concat(
                    F.lit("hot"), (F.col("id") % 8).cast("string")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("t"),
                    F.pmod(F.xxhash64("id", F.lit("tail")), F.lit(100_000))
                    .cast("string"),
                )
            )
            .alias("item"),
        )
        .persist()
    )
    items.count()

    store = tempfile.mkdtemp(prefix="hh_ingest_epochs_") + "/sketch"
    rows = []
    for i in range(epochs):
        t0 = time.time()
        streaming_heavy_hitters_batch(
            items.filter(F.col("epoch") == i).select("grp", "item"),
            ["grp"],
            "item",
            store,
            i,
            candidates=64,
        )
        dt = time.time() - t0
        n_store = read_store(spark, store).count()
        rows.append(
            {"epoch": i, "seconds": round(dt, 2), "store_rows_after": n_store}
        )
        print(rows[-1])

    secs = [r["seconds"] for r in rows]
    k = min(3, len(secs))
    report = {
        "per_epoch_items": per_epoch,
        "epochs": epochs,
        "candidates": 64,
        "per_epoch": rows,
        "first3_mean_s": round(sum(secs[:k]) / k, 2),
        "last3_mean_s": round(sum(secs[-k:]) / k, 2),
    }
    report["last3_over_first3"] = round(
        report["last3_mean_s"] / max(report["first3_mean_s"], 1e-9), 2
    )
    print(json.dumps({k: v for k, v in report.items() if k != "per_epoch"}))
    (REPO / "tools" / "probe_hh_ingest_epochs.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
