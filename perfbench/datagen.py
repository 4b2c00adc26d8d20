"""Seeded TPC-H-like input tables for the library workload.

Writes the ten parquet files the query library reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value domains of the repository's sf0.01 test data:
lineitem has about 60k rows. The same seed always gives the same files.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1_500, 100, 2_000, 15_000
N_EVENTS, N_DOCS, N_VECS, DIM, N_CLUSTERS = 10_000, 500, 500, 64, 10

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

_US_PER_DAY = 86_400_000_000


def _ts(start: datetime, us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    pkey = np.arange(N_PART, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pkey,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (pkey % 1000) / 10.0, 1),
    })

    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
        "o_orderdate": _ts(datetime(1995, 1, 1), order_days * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part = rng.integers(0, N_PART, n_li, dtype=np.int64)
    ship_days = np.repeat(order_days, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": part,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li, dtype=np.int64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (part % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(datetime(1995, 1, 1), ship_days * _US_PER_DAY),
    })

    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), ev_us),
        "user_id": rng.integers(0, 150, N_EVENTS, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = []
    for i in range(N_DOCS):
        if i % 20 == 19:
            # Near-duplicate of an earlier document, for the dedup queries.
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centers[label] + 0.5 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return out


def write(out_dir: str, seed: int) -> str:
    os.makedirs(out_dir)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def tables_written(out_dir: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(out_dir) if f.endswith(".parquet"))
