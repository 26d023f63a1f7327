"""Streaming lifecycle TAX probe (round-12, VERDICT item 4).

The streaming registrations (m10/m12/m13/m14/m14b/m15) are perennially
the most expensive bench lines, and every bench read re-litigates the
same question: is that cost the OPERATOR or the streaming MACHINERY
(checkpoint dir, offset log, state commit, per-micro-batch planning,
file-source listing)? This probe answers it once, with numbers:

1. **Null lifecycle**: a 3-wave availableNow drain whose foreachBatch
   body only counts the batch, vs the same three counts run as plain
   batch reads. The delta is the PURE machinery cost for the standard
   3-epoch shape every m-family fixture uses.
2. **Production-body equivalents** for m14 / m14b / m15: identical
   fixture (the same `_m14_docs`/`_m14b_docs` builders the registrations
   call), identical per-batch body (the IMPORTABLE production functions
   `streaming_threshold_dedup_batch` (m14 at t = 1) /
   `dsir_publish_scored_batch` — zero reimplementation drift), driven by
   a plain Python loop over the wave parquets instead of
   readStream+foreachBatch. Results are asserted IDENTICAL to the
   streaming run before the timing is trusted.

Usage:
    python tools/streaming_tax.py [sf_dir] [reps]
    # default /root/testdata/sf0.01, 3 reps; prints a JSON summary and
    # writes tools/streaming_tax_results.json (medians)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def probe_null(spark, sf_dir: str) -> dict:
    """Pure machinery: 3-wave drain with a count-only body vs 3 batch
    counts over the same files."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _drain_waves,
        _m14_docs,
        _write_epoch_waves,
    )

    base = tempfile.mkdtemp(prefix="tax_null_")
    in_dir = os.path.join(base, "in")
    d = _m14_docs(spark, sf_dir)
    _write_epoch_waves(d, in_dir)

    seen: list[int] = []

    def t_stream():
        _drain_waves(
            spark,
            in_dir,
            os.path.join(base, f"ckpt{len(os.listdir(base))}"),
            lambda b, i: seen.append(b.count()),
            d.schema,
        )

    def t_batch():
        for i in range(3):
            spark.read.parquet(os.path.join(in_dir, f"wave{i}")).count()

    ts, _ = _timed(t_stream)
    tb, _ = _timed(t_batch)
    return {"stream": ts, "batch": tb, "tax": ts - tb}


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def probe_m14(spark, sf_dir: str, name: str) -> dict:
    """m14 (exact, the threshold body at t = 1) / m14b (threshold) / m19
    (containment) with the production per-batch body driven batch-wise;
    parity-asserted against the streaming result."""
    from apache_spark_streaming_project_spark.entry_queries import (
        _M14B_T,
        _M19_T,
        _kept_docs,
        _m14_docs,
        _m14b_docs,
        _m19_docs,
        _write_epoch_waves,
        QUERIES,
    )
    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_containment_dedup_batch,
        streaming_threshold_dedup_batch,
    )

    ts, want = _timed(lambda: _rows(QUERIES[name].fn(spark, sf_dir)))

    def batch_run():
        from apache_spark_streaming_project_spark.entry_queries import (
            _stream_shuffle_partitions,
        )

        base = tempfile.mkdtemp(prefix=f"tax_{name}_")
        in_dir = os.path.join(base, "in")
        band_store = os.path.join(base, "band_store")
        doc_store = os.path.join(base, "doc_store")
        if name == "m14_streaming_lsh_dedup":
            d = _m14_docs(spark, sf_dir)
        elif name == "m19_streaming_containment_dedup":
            d = _m19_docs(spark, sf_dir)
        else:
            d = _m14b_docs(spark, sf_dir)
        # SAME scoped shuffle-partition setting as the streaming drain:
        # without this the "tax" conflates lifecycle overhead with a
        # 32-vs-8 partition-count config delta (round-12 review finding)
        with _stream_shuffle_partitions(spark):
            _write_epoch_waves(d, in_dir)
            for i in range(3):
                b = spark.read.parquet(os.path.join(in_dir, f"wave{i}"))
                if name == "m19_streaming_containment_dedup":
                    streaming_containment_dedup_batch(
                        b, band_store, doc_store, _M19_T, i
                    )
                else:
                    t = 1.0 if name == "m14_streaming_lsh_dedup" else _M14B_T
                    streaming_threshold_dedup_batch(
                        b, band_store, doc_store, t, i
                    )
        return _rows(_kept_docs(spark, doc_store))

    tb, got = _timed(batch_run)
    assert got == want, f"{name}: batch-equivalent diverged from streaming"
    return {"stream": ts, "batch": tb, "tax": ts - tb}


def probe_m15(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark.entry_queries import (
        QUERIES,
        _t,
    )
    from apache_spark_streaming_project_spark.operators.sampling import (
        dsir_lambda_table,
        dsir_publish_scored_batch,
    )

    name = "m15_streaming_dsir"
    ts, want = _timed(lambda: _rows(QUERIES[name].fn(spark, sf_dir)))

    def batch_run():
        from apache_spark_streaming_project_spark.entry_queries import (
            _stream_shuffle_partitions,
        )

        base = tempfile.mkdtemp(prefix="tax_m15_")
        lam_dir = os.path.join(base, "lam")
        sink = os.path.join(base, "sink")
        d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        dsir_lambda_table(
            d, F.col("lang") == F.lit("en"), "text", 4096
        ).coalesce(1).write.mode("overwrite").parquet(lam_dir)
        cands = d.filter(F.col("lang") != F.lit("en")).select(
            "doc_id", "text"
        )
        # same shuffle-partition scope as the streaming side (see
        # probe_m14) — the registered m15 scores inside the drain's
        # scoped setting
        with _stream_shuffle_partitions(spark):
            for i in range(3):
                dsir_publish_scored_batch(
                    cands.filter(F.col("doc_id") % 3 == i), lam_dir, sink, i
                )
        return _rows(
            spark.read.parquet(sink)
            .select(
                "doc_id",
                F.col("batch").cast("bigint").alias("epoch"),
                "n_grams",
                "n_buckets_hit",
                "sum_target_count",
                "sum_raw_count",
                "dsir_score",
            )
            .orderBy("doc_id")
        )

    tb, got = _timed(batch_run)
    assert got == want, "m15: batch-equivalent diverged from streaming"
    return {"stream": ts, "batch": tb, "tax": ts - tb}


def probe_m20(spark, sf_dir: str) -> dict:
    """m20 (semantic) with the production per-batch body driven
    batch-wise; parity-asserted against the streaming result. Both
    sides include the one-off codebook training (part of the
    registration's cost by design)."""
    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark.entry_queries import (
        _M20_T,
        _m20_vecs,
        _stream_shuffle_partitions,
        _write_epoch_waves,
        QUERIES,
    )
    from apache_spark_streaming_project_spark.operators.dedup import (
        streaming_semantic_dedup_batch,
    )
    from apache_spark_streaming_project_spark.operators.similarity import (
        ivf_index,
    )
    from apache_spark_streaming_project_spark.streaming.batch_store import (
        read_store,
    )

    name = "m20_streaming_semantic_dedup"
    ts, want = _timed(lambda: _rows(QUERIES[name].fn(spark, sf_dir)))

    def batch_run():
        base = tempfile.mkdtemp(prefix=f"tax_{name}_")
        in_dir = os.path.join(base, "in")
        cell_store = os.path.join(base, "cell_store")
        vec_store = os.path.join(base, "vec_store")
        e_nat = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        _, centroids = ivf_index(e_nat, n_centroids=16)
        d = _m20_vecs(spark, sf_dir)
        with _stream_shuffle_partitions(spark):
            _write_epoch_waves(d, in_dir)
            for i in range(3):
                b = spark.read.parquet(os.path.join(in_dir, f"wave{i}"))
                streaming_semantic_dedup_batch(
                    b, cell_store, vec_store, centroids, i,
                    threshold=_M20_T,
                )
        out = read_store(spark, vec_store).filter(F.col("kept"))
        return _rows(
            out.select(
                "vec_id", F.col("epoch").cast("bigint").alias("epoch")
            ).orderBy("vec_id")
        )

    tb, got = _timed(batch_run)
    assert got == want, f"{name}: batch-equivalent diverged from streaming"
    return {"stream": ts, "batch": tb, "tax": ts - tb}


def probe_m21(spark, sf_dir: str) -> dict:
    """m21 (drift gate) with the production per-batch body driven
    batch-wise; parity-asserted against the streaming result."""
    from pyspark.sql import functions as F

    from apache_spark_streaming_project_spark.entry_queries import (
        _M21_T,
        _m21_events,
        _stream_shuffle_partitions,
        _write_epoch_waves,
        QUERIES,
    )
    from apache_spark_streaming_project_spark.operators.profile import (
        fixed_width_histogram,
        streaming_drift_batch,
    )

    name = "m21_streaming_drift"
    ts, want = _timed(lambda: _rows(QUERIES[name].fn(spark, sf_dir)))

    def batch_run():
        base = tempfile.mkdtemp(prefix=f"tax_{name}_")
        in_dir = os.path.join(base, "in")
        ref_dir = os.path.join(base, "ref")
        sink = os.path.join(base, "sink")
        nat = spark.read.parquet(
            os.path.join(sf_dir, "events.parquet")
        ).select("value")
        fixed_width_histogram(nat, "value", 0.0, 500.0, 20).select(
            "bucket", F.col("n").alias("n_ref")
        ).write.mode("overwrite").parquet(ref_dir)
        d = _m21_events(spark, sf_dir)
        t_num, t_den = _M21_T
        with _stream_shuffle_partitions(spark):
            _write_epoch_waves(d, in_dir)
            for i in range(3):
                b = spark.read.parquet(os.path.join(in_dir, f"wave{i}"))
                streaming_drift_batch(
                    b, ref_dir, sink, i, t_num=t_num, t_den=t_den
                )
        return _rows(
            spark.read.parquet(sink)
            .select(
                F.col("batch").cast("bigint").alias("epoch"),
                "bucket", "n_ref", "n_cur", "abs_cross", "drifted",
            )
            .orderBy("epoch", "bucket")
        )

    tb, got = _timed(batch_run)
    assert got == want, f"{name}: batch-equivalent diverged from streaming"
    return {"stream": ts, "batch": tb, "tax": ts - tb}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from apache_spark_streaming_project_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    probes = {
        "null_lifecycle_3waves": lambda: probe_null(spark, sf_dir),
        "m14_streaming_lsh_dedup": lambda: probe_m14(
            spark, sf_dir, "m14_streaming_lsh_dedup"
        ),
        "m14b_streaming_threshold_dedup": lambda: probe_m14(
            spark, sf_dir, "m14b_streaming_threshold_dedup"
        ),
        "m15_streaming_dsir": lambda: probe_m15(spark, sf_dir),
        "m19_streaming_containment_dedup": lambda: probe_m14(
            spark, sf_dir, "m19_streaming_containment_dedup"
        ),
        "m20_streaming_semantic_dedup": lambda: probe_m20(spark, sf_dir),
        "m21_streaming_drift": lambda: probe_m21(spark, sf_dir),
    }
    results: dict[str, dict] = {}
    for pname, p in probes.items():
        runs = [p() for _ in range(reps)]
        med = {
            k: round(statistics.median(r[k] for r in runs), 2)
            for k in ("stream", "batch", "tax")
        }
        med["tax_pct"] = round(100.0 * med["tax"] / med["stream"], 1)
        results[pname] = med
        print(pname, json.dumps(med))

    out = REPO / "tools" / "streaming_tax_results.json"
    out.write_text(json.dumps(
        {"sf_dir": sf_dir, "reps": reps, "medians": results}, indent=2
    ) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
