"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "valid": true, "unit": "sec",
"queries": {name: sec}, "sf": ...}. If any query errored, "value" is null
and "valid" false: the surviving queries' sum is not a comparable total.

Each query is executed to completion with the "noop" sink (full plan runs,
nothing is collected to the driver — measures engine throughput, not driver
serialization). A warm-up query first touches the session + parquet footers
so JVM startup isn't attributed to the first query.

``--runs N`` (or $SPARK_GRAFT_BENCH_RUNS) repeats the whole registry N
times and reports the PER-QUERY MEDIAN — the quiet-bench protocol for a
co-tenant-noisy box: a single-sample outlier (one query 6x slow under
external load) cannot masquerade as a regression in the medians. Compare
two bench JSON files with tools/bench_compare.py.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def main() -> None:
    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.entry_queries import QUERIES

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--runs",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1")),
        help="full-registry passes; reported per-query time is the median",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")

    # warm-up: session init + file listing + parquet footer reads for every
    # table, so one-time metadata costs aren't attributed to whichever query
    # happens to touch a table first (the metric is query execution time)
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        spark.read.parquet(str(p)).limit(1).count()
    # ... and one throwaway aggregate through the noop sink so codegen/JIT
    # and shuffle machinery warm-up isn't absorbed by the first timed query
    warm = QUERIES["s25_priority_stats"].fn(spark, sf_dir)
    warm.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    samples: dict[str, list[float]] = {name: [] for name in QUERIES}
    errors: dict[str, str] = {}
    for _ in range(max(args.runs, 1)):
        for name, spec in QUERIES.items():
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 — per-query fault isolation
                # One flaky query must not void the whole run (round-13: a
                # transient Python-worker connect-back failure in m10 at
                # local[8] killed the entire scaling bench and the driver got
                # no JSON at all). Record the failure, clean up any streaming
                # query the failed body left running, and keep benching.
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                for q in spark.streams.active:
                    try:
                        q.stop()
                    except Exception:
                        pass
            finally:
                # operator-internal caches (LSH signature tables etc.) must
                # not leak memory pressure or warm-data advantages into later
                # queries
                spark.catalog.clearCache()

    timings = {
        name: (round(statistics.median(ts), 4) if ts else None)
        for name, ts in samples.items()
    }
    # a run where any query errored has no comparable total: a partial sum
    # would read as a speedup
    valid = not errors
    total = round(sum(t for t in timings.values() if t is not None), 4)
    out = {
        "metric": "total_query_runtime",
        "value": total if valid else None,
        "valid": valid,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if args.runs > 1:
        out["runs"] = args.runs
    if errors:
        out["errors"] = errors
    # Persist the full per-query record where a tail-window capture can't
    # lose it (round-13: the driver retains only the last ~3 KB of stdout,
    # so the 208-entry per-query dict printed below never reached it and no
    # round-over-round per-query comparison could be built).
    (REPO / "bench_last.json").write_text(json.dumps(out, indent=1))
    # Full record first (per-query timings — the line humans and
    # bench_compare.py consume), then a compact headline as the FINAL line:
    # the driver's tail capture parses the last line, and the per-query dict
    # for 208 queries makes the full record too long for that window.
    print(json.dumps(out))
    sys.stdout.flush()
    headline = {k: out[k] for k in ("metric", "value", "valid", "unit", "sf")}
    headline["n_queries"] = len(timings)
    if errors:
        headline["n_errors"] = len(errors)
    headline["queries_file"] = "bench_last.json"
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
