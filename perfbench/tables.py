"""Seeded generator for the tables the bench queries read.

Same table names, columns and types as the engine's query test data
(a TPC-H-like star schema, an ``events`` stream, ``documents`` over a small
word vocabulary with planted near-duplicates, and clustered unit-norm
``embeddings``), drawn from ``numpy.random.default_rng(seed)`` so the same
seed gives the same bytes. ``scale=1`` matches the smallest test-data size
(500 documents, 6,000 line items).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pd.Series:
    return pd.Series(
        np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_tables(seed: int, scale: int = 1) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_docs, n_vec, n_events = 500 * scale, 500 * scale, 1000 * scale
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders, n_items = 1500 * scale, 6000 * scale

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{int(v)}" for v in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec).astype("int32")
    vecs = centroids[labels] + rng.normal(scale=0.6, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(vecs),
        "label": labels,
    })

    gaps = rng.exponential(30 * DAY_US / n_events, n_events)
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts("2024-01-01", np.cumsum(gaps).astype("int64")),
        "user_id": rng.integers(0, 15 * scale, n_events).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, size=n_events),
        "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS,
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, size=n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{int(v)}" for v in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, size=n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_orders) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, size=n_orders),
    })
    qty = rng.integers(1, 51, n_items).astype("float64")
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_items).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_items).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100,
        "l_tax": rng.integers(0, 9, n_items) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_items),
        "l_linestatus": rng.choice(["F", "O"], size=n_items),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_items) * DAY_US),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``, the layout
    ``benchqueries.load`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
