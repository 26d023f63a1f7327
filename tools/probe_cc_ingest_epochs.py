"""Per-epoch cost law for the streaming connected-components fold
(m25's batch body). The honest expectation is the m19 index-probe
class, NOT the m22 flat class: each batch runs local CC over its own
edges (batch-sized graph) but must resolve its endpoints against the
assign store, which grows with the corpus — so per-epoch cost carries
one store-scan term (bucket the store by key to prune it in
production) plus a remap-chase whose table is |merges|-sized. This
probe drives N equal epochs of a synthetic family-ring edge stream
through streaming_cc_batch and reports per-epoch seconds next to the
growing store sizes; the shape to verify is SUB-LINEAR growth
dominated by the store scan, with the local-CC term flat.

Usage: python tools/probe_cc_ingest_epochs.py [per_epoch_edges] [epochs]
Writes tools/probe_cc_ingest_epochs.json.
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
    per_epoch = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_cc_batch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # the m25 fixture shape at scale: six-key family rings plus sparse
    # cross-family bridges, edges scattered across epochs by (a+b)%E so
    # components assemble incrementally and the remap log is exercised
    n_keys = per_epoch * epochs  # ~1 ring edge per key
    keys = spark.range(n_keys).select(F.col("id").alias("key_a"))
    pos = F.col("key_a") % 6
    ring = keys.select(
        "key_a", (F.col("key_a") - pos + (pos + 1) % 6).alias("key_b")
    )
    bridge = keys.filter(F.col("key_a") % 50 == 0).select(
        "key_a", (F.col("key_a") + 6).alias("key_b")
    )
    edges = (
        ring.unionByName(bridge)
        .filter(F.col("key_b") < n_keys)
        .select(
            "key_a",
            "key_b",
            # hash-spread, not (a+b)%E: ring-edge key sums are always
            # odd, so an even epoch count would leave half the epochs
            # empty and the per-epoch table unreadable
            F.pmod(F.xxhash64("key_a", "key_b"), F.lit(epochs)).alias(
                "epoch"
            ),
        )
        .persist()
    )
    edges.count()

    base = tempfile.mkdtemp(prefix="cc_ingest_epochs_")
    assign_store = base + "/assign"
    remap_store = base + "/remap"
    rows = []
    for i in range(epochs):
        t0 = time.time()
        streaming_cc_batch(
            edges.filter(F.col("epoch") == i).select("key_a", "key_b"),
            assign_store,
            remap_store,
            i,
        )
        dt = time.time() - t0
        n_assign = read_store(spark, assign_store).count()
        n_remap = read_store(spark, remap_store).count()
        rows.append(
            {
                "epoch": i,
                "seconds": round(dt, 2),
                "assign_rows_after": n_assign,
                "remap_rows_after": n_remap,
            }
        )
        print(rows[-1])

    secs = [r["seconds"] for r in rows]
    k = min(3, len(secs))
    report = {
        "per_epoch_edges": per_epoch,
        "epochs": epochs,
        "per_epoch": rows,
        "first3_mean_s": round(sum(secs[:k]) / k, 2),
        "last3_mean_s": round(sum(secs[-k:]) / k, 2),
    }
    report["last3_over_first3"] = round(
        report["last3_mean_s"] / max(report["first3_mean_s"], 1e-9), 2
    )
    print(json.dumps({k: v for k, v in report.items() if k != "per_epoch"}))
    (REPO / "tools" / "probe_cc_ingest_epochs.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
