"""Subset bench: run named queries fn+noop R times in ONE process and
print per-rep seconds + median (same methodology as bench.py, for
same-process A/B under the quiet-bench protocol). Also prints /proc/stat
steal-time delta so a contaminated rep is visible.

Usage: python tools/bench_subset.py [--reps N] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import os

    from apache_spark_streaming_project_spark import get_spark
    from apache_spark_streaming_project_spark.entry_queries import QUERIES

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:  # fail before paying session + warm-up (round-13 ADVICE)
        sys.exit(f"unknown queries: {unknown}; valid names are in QUERIES")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_subset")
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        spark.read.parquet(str(p)).limit(1).count()
    # warm with a query NOT under test: a benched query must not get its
    # first rep pre-warmed relative to the others. When every registered
    # query is under test, the footer warm-up above is all there is.
    warm_name = next(
        (
            n
            for n in ("s25_priority_stats", "s19_lineitem_summary", *QUERIES)
            if n not in args.names
        ),
        None,
    )
    if warm_name is not None:
        warm = QUERIES[warm_name].fn(spark, sf_dir)
        warm.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in args.names:
        spec = QUERIES[name]
        ts, steals = [], []
        for _ in range(args.reps):
            s0, t0 = _steal(), time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            steals.append(_steal() - s0)
            spark.catalog.clearCache()
        out[name] = {
            "median": round(statistics.median(ts), 3),
            "reps": ts,
            "steal_jiffies": steals,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["median"] for k, v in out.items()}}))


if __name__ == "__main__":
    main()
