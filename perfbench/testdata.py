"""Seeded synthetic tables for the registry workloads.

The registered queries read ten parquet tables (``region nation customer
supplier part orders lineitem events documents embeddings``).  This module
writes them from a seed, with the column names, types and value domains of
the engine's reference test data (TPC-H-like keys and dates, a 30-word
document vocabulary with ~5% planted ``dup`` near-copies, unit-norm 64-d
embeddings over 10 labels), so the benchmark never reads data from outside
its own checkout.  Row counts follow the reference scale factor 0.01, the
scale at which the registry's oracle contracts are defined.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_WORDS = ("small", "red", "blue", "green", "large", "steel", "brass")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "spring", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")

# rows per table at the reference scale factor 0.01
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_START).days
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    counts: dict[str, int] = {}

    def emit(name: str, table: pa.Table) -> None:
        _write(out_dir, name, table)
        counts[name] = table.num_rows

    emit(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
    )
    emit(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    n_cust = SIZES["customer"]
    emit(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(
                    [rng.randrange(25) for _ in range(n_cust)], pa.int32()
                ),
                "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_cust)],
                "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
            }
        ),
    )
    n_supp = SIZES["supplier"]
    emit(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(
                    [rng.randrange(25) for _ in range(n_supp)], pa.int32()
                ),
                "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_supp)],
            }
        ),
    )
    n_part = SIZES["part"]
    emit(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    f"{rng.choice(PART_WORDS)} {rng.choice(PART_NOUNS)}"
                    for _ in range(n_part)
                ],
                "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
                "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
                "p_size": pa.array(
                    [rng.randint(1, 50) for _ in range(n_part)], pa.int32()
                ),
                "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_part)],
            }
        ),
    )

    n_ord = SIZES["orders"]
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    items = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(n_ord):
        odate = ORDER_START + dt.timedelta(days=rng.randrange(ORDER_DAYS))
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("OFP"))
        orders["o_totalprice"].append(_money(rng, 1000.0, 500000.0))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            items["l_orderkey"].append(ok)
            items["l_partkey"].append(rng.randrange(n_part))
            items["l_suppkey"].append(rng.randrange(n_supp))
            items["l_linenumber"].append(ln)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(round(qty * _money(rng, 900.0, 2100.0), 2))
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("FO"))
            items["l_shipdate"].append(odate + dt.timedelta(days=rng.randint(1, 120)))
    ts = pa.timestamp("us")
    emit(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
                "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
                "o_orderstatus": orders["o_orderstatus"],
                "o_totalprice": orders["o_totalprice"],
                "o_orderdate": pa.array(orders["o_orderdate"], ts),
                "o_orderpriority": orders["o_orderpriority"],
            }
        ),
    )
    emit(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(items["l_orderkey"], pa.int64()),
                "l_partkey": pa.array(items["l_partkey"], pa.int64()),
                "l_suppkey": pa.array(items["l_suppkey"], pa.int64()),
                "l_linenumber": pa.array(items["l_linenumber"], pa.int32()),
                "l_quantity": items["l_quantity"],
                "l_extendedprice": items["l_extendedprice"],
                "l_discount": items["l_discount"],
                "l_tax": items["l_tax"],
                "l_returnflag": items["l_returnflag"],
                "l_linestatus": items["l_linestatus"],
                "l_shipdate": pa.array(items["l_shipdate"], ts),
            }
        ),
    )

    n_ev = SIZES["events"]
    offsets = sorted(rng.uniform(0, EVENT_SECONDS) for _ in range(n_ev))
    emit(
        "events",
        pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(
                    [EVENT_START + dt.timedelta(seconds=s) for s in offsets], ts
                ),
                "user_id": pa.array([rng.randrange(150) for _ in range(n_ev)], pa.int64()),
                "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
                "value": [
                    max(0.01, round(rng.expovariate(1 / 50.0), 2)) for _ in range(n_ev)
                ],
                "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
            }
        ),
    )

    n_doc = SIZES["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    emit(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(n_doc), pa.int64()),
                "text": texts,
                "lang": [rng.choice(LANGS) for _ in range(n_doc)],
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    n_emb = SIZES["embeddings"]
    nrng = np.random.default_rng(seed)
    vecs = nrng.normal(0.0, 1.0, (n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emit(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(n_emb), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(
                    [int(x) for x in nrng.integers(0, 10, n_emb)], pa.int32()
                ),
            }
        ),
    )
    return counts
