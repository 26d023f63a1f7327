"""Per-epoch cost law for the streaming SEMANTIC dedup (m20's batch
body). Unlike m14b (band collisions rare) and m19 (shared grams rare),
cell blocking is DENSE for isotropic embeddings: every batch vector
candidates against every earlier arrival sharing one of its cells, so
per-batch verify cost = batch x occupancy, occupancy = corpus / k. The
scale contract is therefore NOT "flat regardless of corpus" but
"bounded by the DESIGN occupancy": size k for the TARGET corpus
(k ∝ N_final, the ivf_index scale law) and per-epoch cost is capped at
batch x (N_final / k) x n_assign^2-ish; re-quantize (m16-style
maintenance) when the corpus outgrows it.

The probe measures both halves of that claim over synthetic unit
vectors (seeded per-row RNG, deterministic under any partitioning):
  (1) per-epoch seconds + cell-index size across N epochs with k sized
      for the final corpus — cost grows toward the design point and is
      capped there (the last epoch IS the design occupancy);
  (2) the same run at k/4 — the last-epoch cost rises ~4x, measuring
      the k ∝ N lever directly rather than asserting it.

Usage: python tools/probe_semantic_epochs.py [per_epoch] [epochs] [occupancy]
Writes tools/probe_semantic_epochs.json.
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


def _vectors(spark, n: int, epochs: int):
    """Deterministic synthetic unit vectors: one seeded RNG per row id,
    layout-independent (the _train_sample determinism rule)."""

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

    from pyspark.sql import functions as F

    ids = spark.range(n * epochs).select(F.col("id").alias("vec_id"))
    return (
        ids.mapInPandas(gen, "vec_id long, embedding array<float>")
        .select(
            "vec_id",
            (F.col("vec_id") % epochs).alias("epoch"),
            "embedding",
        )
    )


def _run(spark, docs, epochs: int, k: int, label: str):
    import numpy as np

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_semantic_dedup_batch,
    )
    from apache_spark_streaming_project_spark.operators.similarity import (
        _lloyd,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    # frozen codebook from a bounded driver-side sample of epoch 0 (the
    # offline-training stand-in; same Lloyd kernel as ivf_index)
    # orderBy before limit: a bare limit() is partition-layout-dependent
    # when epoch 0 exceeds the cap, and the codebook (hence the measured
    # law) must not vary with parallelism (the _train_sample rule)
    sample_rows = (
        docs.filter(F.col("epoch") == 0)
        .orderBy("vec_id")
        .select("embedding")
        .limit(10_000)
        .collect()
    )
    sample = np.array(
        sorted(tuple(r[0]) for r in sample_rows), dtype=np.float64
    )
    centroids = [list(map(float, c)) for c in _lloyd(sample, k, 3, 42)]

    base = tempfile.mkdtemp(prefix=f"semantic_epochs_{label}_")
    cell, vec = f"{base}/cell", f"{base}/vec"
    rows = []
    for i in range(epochs):
        t0 = time.time()
        streaming_semantic_dedup_batch(
            docs.filter(F.col("epoch") == i), cell, vec, centroids, i
        )
        dt = time.time() - t0
        idx_rows = read_store(spark, cell).count()
        rows.append(
            {
                "epoch": i,
                "seconds": round(dt, 2),
                "cell_index_rows_after": idx_rows,
            }
        )
        print(label, rows[-1])
    return rows


def main() -> None:
    per_epoch = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    occupancy = int(sys.argv[3]) if len(sys.argv) > 3 else 500

    from apache_spark_streaming_project_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    docs = _vectors(spark, per_epoch, epochs).persist()
    docs.count()

    n_final = per_epoch * epochs
    k_design = max(4, n_final // occupancy)
    runs = {}
    for label, k in (("k_design", k_design), ("k_quarter", max(2, k_design // 4))):
        runs[label] = {"k": k, "per_epoch": _run(spark, docs, epochs, k, label)}

    last = lambda r: r["per_epoch"][-1]["seconds"]  # noqa: E731
    report = {
        "per_epoch_docs": per_epoch,
        "epochs": epochs,
        "dim": DIM,
        "design_occupancy": occupancy,
        "runs": runs,
        "last_epoch_s_k_design": last(runs["k_design"]),
        "last_epoch_s_k_quarter": last(runs["k_quarter"]),
        "k_lever_ratio": round(
            last(runs["k_quarter"]) / max(last(runs["k_design"]), 1e-9), 2
        ),
    }
    print(json.dumps({k: v for k, v in report.items() if k != "runs"}))
    (REPO / "tools" / "probe_semantic_epochs.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
