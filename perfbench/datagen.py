"""Seeded input generators.

The benchmark never reads data it did not make: every table is drawn
from ``numpy.random.default_rng(seed)`` and written as parquet inside the
benchmark's work directory. Shapes and value distributions follow the
engine's TPC-H-style fixture tables (same column names, types and
domains), so the registry queries and their DuckDB oracles run on them
unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "zh", "es", "de", "fr"]
DOC_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    return (np.datetime64(start) + rng.integers(0, n_days, size).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def orders_table(rng, keys: np.ndarray, n_customers: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n)),
            "o_orderpriority": pa.array(rng.choice(ORDER_PRIORITY, n)),
        }
    )


def write_kv_orders(seed: int, out_dir: str, n_orders: int) -> np.ndarray:
    """The key-value base: ``orders.parquet`` with ``n_orders`` rows whose
    keys are drawn from ``[0, n_orders * 10 / 9)``, so about one key in
    ten of that range is absent. Returns the sorted present keys."""
    rng = np.random.default_rng(seed)
    key_space = n_orders * 10 // 9
    keys = np.sort(rng.choice(key_space, n_orders, replace=False)).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        orders_table(rng, keys, max(1, n_orders // 10)),
        os.path.join(out_dir, "orders.parquet"),
    )
    return keys


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup queries need some)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(DOC_LANGS, n, p=DOC_LANG_P)),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centers[labels] + rng.normal(scale=2.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_analytics_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """The ten registry input tables at scale factor ``sf`` (orders =
    1.5M x sf rows, as in TPC-H). Returns the row count per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    n_users = max(15, n_events // 66)

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    l_partkey = rng.integers(0, n_part, n_lines)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    retail = 900.0 + (l_partkey % 1000) / 10.0
    shuffle = rng.permutation(n_lines)
    event_gaps = rng.exponential(30 * 86_400_000_000 / n_events, n_events)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{int(x)}" for x in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": orders_table(rng, np.arange(n_orders, dtype=np.int64), n_cust),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_orderkey[shuffle], pa.int64()),
                "l_partkey": pa.array(l_partkey[shuffle], pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
                "l_linenumber": pa.array(l_linenumber[shuffle], pa.int32()),
                "l_quantity": pa.array(quantity[shuffle]),
                "l_extendedprice": pa.array(np.round(quantity * retail * rng.uniform(0.95, 2.1, n_lines), 2)[shuffle]),
                "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_lines)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.cumsum(event_gaps).astype(np.int64).astype("timedelta64[us]")
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
                "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
                "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
