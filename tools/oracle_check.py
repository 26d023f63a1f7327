"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark AND its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row-count, schema (sorted column names) and an order-insensitive value hash.

Usage:  python tools/oracle_check.py [sf_dir] [query_name ...]
Default sf_dir: /root/testdata/sf0.01 (the driver's t2 scale).

A run over every query (no names given) at sf0.01 that passes writes
``ORACLE_MANIFEST.json`` at the repo root: per query its row count, sorted
column names and value hash. Committed, it makes any hash move a diff.
A passing full run at another scale only prints the manifest path it
leaves alone, so the committed sf0.01 hashes are never replaced by
another scale's.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
MANIFEST_SF = "sf0.01"  # the one scale ORACLE_MANIFEST.json records
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the exact double — both engines must produce bit-identical
        # doubles for the hash to match (that's the design contract).
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    # DELIBERATELY a vanilla session, NOT the repo's get_spark factory: the
    # driver's harness builds its own session, so queries must not depend on
    # any conf only our factory sets (the round-1 nanos bug hid behind that).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle_check")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    manifest = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show first differing rows for debugging
                sset = {tuple(_norm_cell(v) for v in r) for r in srows}
                oset = {tuple(_norm_cell(v) for v in r) for r in orows}
                sonly = list(sset - oset)[:3]
                oonly = list(oset - sset)[:3]
                if sonly:
                    problems.append(f"spark-only rows (cols {scols}): {sonly}")
                if oonly:
                    problems.append(f"oracle-only rows (cols {ocols}): {oonly}")
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{dt:.1f}s]")
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows hash={sh} [{dt:.1f}s]")
            manifest[name] = {
                "rows": len(srows), "columns": sorted(scols), "hash": sh,
            }
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    out = REPO / "ORACLE_MANIFEST.json"
    if not only and not failures and Path(sf_dir).name != MANIFEST_SF:
        print(f"not writing {out}: it records {MANIFEST_SF}")
    elif not only and not failures:
        out.write_text(json.dumps(
            {"sf": MANIFEST_SF, "queries": manifest},
            indent=1, sort_keys=True,
        ) + "\n")
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
