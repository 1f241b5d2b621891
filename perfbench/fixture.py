"""Seeded parquet fixture for ``query_mix``: the TPC-H-shaped tables and
``events`` with the schemas, key ranges and value domains of the
engine's test tables (see FIXTURES.md), regenerated from ``--seed`` so
the benchmark reads nothing outside its checkout."""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["blue", "red", "small", "large", "steel", "brass", "green", "tiny"]
P_NOUNS = ["anvil", "widget", "gear", "bolt", "spring", "valve", "lever", "cog"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ORDER_START = datetime.datetime(1995, 1, 1)
ORDER_DAYS = 2405  # through 2001-08-01
EVENT_START = datetime.datetime(2024, 1, 1)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _cents(rng, lo: int, hi: int, n: int):
    return rng.integers(lo, hi, size=n) / 100.0


def _ts(start: datetime.datetime, micros):
    base = int(start.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6
    return pa.array(base + np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns row
    counts. Same ``(sf, seed)`` → byte-identical inputs."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(n_cust // 10, 20)
    day = 86_400 * 10**6
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_WORDS, n_part),
                                             rng.choice(P_NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng, 90_000, 100_000, n_part),
    })
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _ts(ORDER_START, odays * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(ORDER_START,
                          (np.repeat(odays, lines) + rng.integers(1, 122, n_li)) * day),
    })
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(EVENT_START, np.sort(rng.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _cents(rng, 1, 49_003, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    # no query in the mix reads these two; the DuckDB oracle still
    # registers every catalog table, so they exist with their schemas
    texts = ["alpha beta", "gamma delta epsilon"] * 5
    t["documents"] = pa.table({
        "doc_id": pa.array(range(10), pa.int64()),
        "text": texts,
        "lang": ["en"] * 10,
        "source": ["web"] * 10,
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(10), pa.int64()),
        "embedding": pa.array([[float(i), 1.0] for i in range(10)],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 2 for i in range(10)], pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
