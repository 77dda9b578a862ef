"""Seeded tables for the operator battery, cached by (row counts, seed).

The 38 ``bench.HEADLINE`` queries read a TPC-H-style star schema
(region, nation, customer, supplier, part, orders, lineitem) plus
``events``, ``documents`` and ``embeddings``. ``build`` makes
those ten parquet files with the column names, types and value ranges
the queries and their DuckDB oracles expect; the default row counts are
those of the smallest scale the test suite uses (6,000 lineitems). The
same seed gives the same files. Entries are cached under
``perfbench/.cache/tables-<key>/`` and appear atomically.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")

ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "de", "zh"]  # en about twice as common
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _dates(rng, start: str, days: int, n: int) -> pd.Series:
    days = pd.to_timedelta(rng.integers(0, days, n), unit="D")
    return (pd.Timestamp(start) + days).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    """Word-salad documents; one in five is a near-copy of an earlier one
    with ``dup`` appended, so the dedup and near-dup queries find pairs."""
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def build(rows: dict, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = rows
    i32 = np.int32
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n["part"]), rng.choice(NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(i32),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1_000, 500_000, n["orders"]),
        "o_orderdate": _dates(rng, "1995-01-01", 2_405, n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    quantity = rng.integers(1, 51, m).astype(float)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(20, 2_100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _dates(rng, "1995-01-02", 2_498, m),
    })
    k = n["events"]
    gaps = rng.exponential(2_600, k)  # seconds: ~43 min apart on average
    events = pd.DataFrame({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, 15, k),
        "event_type": rng.choice(EVENT_TYPES, k),
        "value": _money(rng, 0, 330, k),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    vec = rng.normal(size=(n["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n["embeddings"]).astype(i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n["documents"]), "embeddings": embeddings,
    }


def prepare(seed: int, rows: dict = ROWS) -> tuple[str, float]:
    """(tables dir, seconds this call took), generating on a cache miss."""
    t0 = time.perf_counter()
    spec = json.dumps({"rows": rows, "seed": seed}, sort_keys=True)
    key = hashlib.sha1(spec.encode()).hexdigest()[:16]
    final = os.path.join(CACHE_DIR, f"tables-{key}")
    if not os.path.exists(os.path.join(final, "lineitem.parquet")):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, df in build(rows, seed).items():
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    return final, time.perf_counter() - t0
