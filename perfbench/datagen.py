"""Seeded synthetic inputs for the benchmark.

Builds the ten tables the engine reads (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) with the column names, types
and value domains of the engine's test fixtures, from a seed alone. The
same ``(seed, sf)`` always yields identical Arrow tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group stream big filter vector"
).split()
_PART_ADJ = ["small", "large", "blue", "red", "green", "shiny", "matte", "heavy"]
_PART_NOUN = ["ring", "anvil", "widget", "bolt", "gear", "valve", "spring", "plate"]
_US = 1_000_000
_DAY = 86_400 * _US


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * _US
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _price(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    k = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": _price(rng, k, -999.99, 9999.99),
        "c_mktsegment": _choice(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k
        ),
    })


def _supplier(rng, n):
    k = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
        "s_acctbal": _price(rng, k, -999.99, 9999.99),
    })


def _part(rng, n):
    k = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), k)
    noun = rng.integers(0, len(_PART_NOUN), k)
    return pa.table({
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _choice(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k
        ),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
    })


def _orders(rng, n):
    k = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], k),
        "o_totalprice": _price(rng, k, 1000.0, 500_000.0),
        "o_orderdate": _ts_us(
            dt.datetime(1995, 1, 1), rng.integers(0, 2_400, k) * _DAY
        ),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
        ),
    })


def _lineitem(rng, n):
    lines = rng.integers(1, 8, n["orders"])
    k = int(lines.sum())
    qty = rng.integers(1, 51, k).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n["orders"], dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, c + 1) for c in lines]).astype(np.int32)
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
        "l_discount": np.round(rng.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], k),
        "l_linestatus": _choice(rng, ["F", "O"], k),
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 2), rng.integers(0, 2_499, k) * _DAY
        ),
    })


def _events(rng, n):
    k = n["events"]
    gaps = rng.exponential(30 * _DAY / k, k).astype(np.int64) + 1
    return pa.table({
        "event_id": pa.array(np.arange(k, dtype=np.int64)),
        "ts": _ts_us(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(150, k // 60), k)),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], k),
        "value": np.round(rng.exponential(25.0, k) + 0.01, 2),
        "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)],
    })


def _texts(rng, n) -> list[str]:
    k = n["documents"]
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), c))
        for c in rng.integers(8, 80, k)
    ]
    # every tenth document repeats an earlier one, so the dedup operators
    # have duplicates to find
    for i in range(10, k, 10):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def _documents(rng, n):
    k = n["documents"]
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], k),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    k = n["documents"]
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (k, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(k, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


_GENERATORS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The tables in ``names`` at scale factor ``sf`` (lineitem ~= 6M * sf
    rows). Each table draws from its own stream of the seed, so a table is
    the same whichever others are generated with it."""
    unknown = set(names) - set(TABLES)
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")
    sizes = _sizes(sf)
    return {
        name: _GENERATORS[name](np.random.default_rng([seed, TABLES.index(name)]), sizes)
        for name in names
    }


def write_parquet(tables: dict[str, pa.Table], directory: str) -> None:
    """One ``<name>.parquet`` per table, the layout ``load_table`` reads."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
