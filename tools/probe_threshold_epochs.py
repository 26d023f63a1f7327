"""Per-epoch cost law for the streaming threshold dedup (m14b's batch
body) at 10x: as the persisted band index grows epoch over epoch, does
per-batch cost stay flat? The 100 TB claim is that each batch pays its
own size plus (band, band_hash)-bucketed index probes — NOT a scan that
grows linearly with corpus lifetime. This probe times each of 10 equal
epochs over the 10x documents corpus and reports the per-epoch seconds
alongside the index size it probed.

Usage: python tools/probe_threshold_epochs.py [docs_parquet] [epochs]
Writes tools/probe_threshold_epochs.json.
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
    src = sys.argv[1] if len(sys.argv) > 1 else (
        "/tmp/sf1.0-10x/documents.parquet"
    )
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_threshold_dedup_batch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="thresh_epochs_")
    band, text = f"{base}/band", f"{base}/text"
    docs = spark.read.parquet(src).select(
        "doc_id", (F.col("doc_id") % epochs).alias("epoch"), "text"
    ).persist()
    docs.count()

    rows = []
    for i in range(epochs):
        t0 = time.time()
        streaming_threshold_dedup_batch(
            docs.filter(F.col("epoch") == i), band, text, 0.5, i
        )
        dt = time.time() - t0
        idx_rows = read_store(spark, band).count()
        rows.append({"epoch": i, "seconds": round(dt, 2),
                     "index_rows_after": idx_rows})
        print(rows[-1])

    secs = [r["seconds"] for r in rows]
    k = min(3, len(secs))  # window clamps for short runs; guard 0-div
    report = {
        "src": src, "epochs": epochs, "per_epoch": rows,
        "first3_mean_s": round(sum(secs[:k]) / k, 2),
        "last3_mean_s": round(sum(secs[-k:]) / k, 2),
    }
    report["last3_over_first3"] = round(
        report["last3_mean_s"] / max(report["first3_mean_s"], 1e-9), 2
    )
    print(json.dumps({k: v for k, v in report.items() if k != "per_epoch"}))
    (REPO / "tools" / "probe_threshold_epochs.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
