"""Probe cost pre/post compaction of the m14b band index at 10x
(round-12, VERDICT item 7).

A long-lived streaming dedup deployment appends one set of part files
per micro-batch; after K epochs the band index is K-way fragmented. This
probe builds the index over the 10x documents corpus (50k docs) in K
epochs via the PRODUCTION batch body, then times the read-side work of
one incoming probe batch — index scan + (band, band_hash) candidate join
— against the fragmented store and against its compacted rewrite
(streaming/batch_store.py:compact_store).

Usage: python tools/probe_store_compaction.py [docs_parquet] [epochs] [reps]
Writes tools/probe_store_compaction.json.
"""

from __future__ import annotations

import glob
import json
import statistics
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
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_threshold_dedup_batch,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        compact_store,
        read_store,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="compact_probe_")
    band = f"{base}/band"
    text = f"{base}/text"

    docs = spark.read.parquet(src).select(
        "doc_id", (F.col("doc_id") % epochs).alias("epoch"), "text"
    )
    t0 = time.time()
    for i in range(epochs):
        streaming_threshold_dedup_batch(
            docs.filter(F.col("epoch") == i), band, text, 0.5, i
        )
    build_s = time.time() - t0
    n_frag = len(glob.glob(band + "/**/part-*", recursive=True))

    dense = f"{base}/band_c"
    t0 = time.time()
    compact_store(spark, band, dense, 8)
    compact_s = time.time() - t0
    n_dense = len(glob.glob(dense + "/part-*"))

    # the read-side probe an incoming batch pays: scan the index and
    # count candidate collisions for a fresh batch's band rows
    probe_batch = docs.filter(F.col("epoch") == 0).withColumn(
        "epoch", F.lit(epochs).cast("bigint")
    )
    from apache_spark_streaming_project_spark.operators.dedup import (
        lsh_band_rows,
        minhash_signatures_df,
    )

    sig = minhash_signatures_df(probe_batch, "doc_id", "text", 32, 3)
    bands_df = (
        lsh_band_rows(sig, 32, 8)
        .select(F.col("_key").alias("doc_id"), "band", "band_hash")
    ).persist()
    bands_df.count()

    def probe(store: str) -> float:
        t0 = time.time()
        idx = read_store(spark, store)
        bands_df.join(idx, ["band", "band_hash"]).select(
            "doc_id", "rep_doc_id"
        ).distinct().count()
        return time.time() - t0

    frag_times = [probe(band) for _ in range(reps)]
    dense_times = [probe(dense) for _ in range(reps)]
    report = {
        "src": src,
        "epochs": epochs,
        "build_s": round(build_s, 1),
        "band_rows": read_store(spark, band).count(),
        "files_fragmented": n_frag,
        "files_compacted": n_dense,
        "compact_s": round(compact_s, 2),
        "probe_fragmented_s": round(statistics.median(frag_times), 2),
        "probe_compacted_s": round(statistics.median(dense_times), 2),
    }
    report["speedup"] = round(
        report["probe_fragmented_s"] / max(report["probe_compacted_s"], 1e-9),
        2,
    )
    print(json.dumps(report, indent=2))
    (REPO / "tools" / "probe_store_compaction.json").write_text(
        json.dumps(report, indent=2) + "\n"
    )


if __name__ == "__main__":
    main()
