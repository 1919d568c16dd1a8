"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the package's queries read (the star schema plus
``events``, ``documents`` and ``embeddings``), one parquet file each,
named ``<table>.parquet`` so ``catalog.load_table`` finds them. Row
counts scale with ``sf`` the way the package's fixtures do (lineitem
is 6M x sf); value ranges and cardinalities follow FIXTURES.md. The
same ``(seed, sf)`` always writes the same bytes.

The benchmark makes its own inputs because it reads nothing outside the
source checkout it runs in, and the repository ships no fixture files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "blue", "hot", "new", "small", "large", "old", "cold"]
NOUNS = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, span, n):
    return _EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    return pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })


def _part(rng, n):
    m = n["part"]
    return pa.table({
        "p_partkey": np.arange(m, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(ADJECTIVES, m), rng.choice(NOUNS, m))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, m)],
        "p_type": rng.choice(PART_TYPES, m),
        "p_size": rng.integers(1, 51, m).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(m) % 1000) / 10.0, 2),
    })


def _orders(rng, n):
    m = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(m, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], m),
        "o_orderstatus": rng.choice(["F", "O", "P"], m),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, m),
        "o_orderdate": _days(rng, 2405, m),
        "o_orderpriority": rng.choice(PRIORITIES, m),
    })


def _lineitem(rng, n):
    m = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, 2499, m) + np.timedelta64(1, "D"),
    })


def _events(rng, n):
    m = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, m))
    return pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], m),
        "event_type": rng.choice(EVENT_TYPES, m),
        "value": np.round(rng.exponential(30.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })


def _documents(rng, sizes) -> pa.Table:
    """Word-soup documents; one in 500 repeats an earlier text verbatim
    so the corpus holds a few natural exact duplicates."""
    n = sizes["documents"]
    lengths = rng.integers(10, 80, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    for i in range(1, n):
        if rng.random() < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, sizes) -> pa.Table:
    """Ten Gaussian clusters in 64 dimensions; ``label`` is the cluster."""
    n = sizes["embeddings"]
    centers = rng.normal(0.0, 0.15, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + rng.normal(0.0, 0.1, (n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


# Table name -> builder. Each table draws from its own stream of
# ``(seed, position)``, so any subset can be written alone.
BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write(out_dir: str, seed: int, sf: float, names=None) -> None:
    """Write ``<table>.parquet`` into ``out_dir`` for every table, or for
    those in ``names``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = _sizes(sf)
    for pos, (name, build) in enumerate(BUILDERS.items()):
        if names is None or name in names:
            table = build(np.random.default_rng([seed, pos]), sizes)
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
