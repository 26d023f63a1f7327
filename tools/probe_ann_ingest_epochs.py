"""Per-epoch cost law for the streaming PQ index ingest (m22's batch
body). The claim is stronger than the dedup lifecycles': encode is
map-only against FROZEN codebooks and the code store is append-only and
NEVER READ during ingest, so per-epoch cost is O(batch) with NO
corpus-lifetime term at all — not even the index-probe term m19/m20
carry. This probe drives N equal epochs of synthetic vectors through
streaming_pq_ingest_batch and reports per-epoch seconds next to the
growing store size; flat is the only acceptable shape.

Usage: python tools/probe_ann_ingest_epochs.py [per_epoch] [epochs]
Writes tools/probe_ann_ingest_epochs.json.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DIM = 64


def main() -> None:
    per_epoch = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.operators.similarity import (
        pq_train,
        streaming_pq_ingest_batch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = []
            for vid in pdf["vec_id"]:
                rng = np.random.default_rng(int(vid))
                v = rng.standard_normal(DIM)
                vecs.append((v / np.linalg.norm(v)).astype(np.float32))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": vecs}
            )

    docs = (
        spark.range(per_epoch * epochs)
        .select(F.col("id").alias("vec_id"))
        .mapInPandas(gen, "vec_id long, embedding array<float>")
        .select(
            "vec_id",
            (F.col("vec_id") % epochs).alias("epoch"),
            "embedding",
        )
        .persist()
    )
    docs.count()
    books = pq_train(docs.filter(F.col("epoch") == 0), m=4, n_centroids=32)

    store = tempfile.mkdtemp(prefix="ann_ingest_epochs_") + "/codes"
    rows = []
    for i in range(epochs):
        t0 = time.time()
        streaming_pq_ingest_batch(
            docs.filter(F.col("epoch") == i), books, store, i
        )
        dt = time.time() - t0
        n = read_store(spark, store).count()
        rows.append(
            {"epoch": i, "seconds": round(dt, 2), "store_rows_after": n}
        )
        print(rows[-1])

    secs = [r["seconds"] for r in rows]
    k = min(3, len(secs))
    report = {
        "per_epoch_docs": per_epoch,
        "epochs": epochs,
        "dim": DIM,
        "per_epoch": rows,
        "first3_mean_s": round(sum(secs[:k]) / k, 2),
        "last3_mean_s": round(sum(secs[-k:]) / k, 2),
    }
    report["last3_over_first3"] = round(
        report["last3_mean_s"] / max(report["first3_mean_s"], 1e-9), 2
    )
    print(json.dumps({k: v for k, v in report.items() if k != "per_epoch"}))
    (REPO / "tools" / "probe_ann_ingest_epochs.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
