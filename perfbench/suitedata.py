"""Seeded generator for the query suite's ten tables.

Same schema as the registry's driver tables (a TPC-H-like star schema,
an ``events`` stream, ``documents`` and unit-norm ``embeddings``), at
roughly the 0.01 scale factor: 60k lineitems, 10k events, 500 documents
and 500 64-d vectors. The registry queries read them through
``queries.QUERIES[name](spark, data_dir)`` and DuckDB reads the same
files for the oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]  # fmt: skip

_WORDS = (
    "the a data table join hash scan sort merge group agg window filter "
    "query stream batch row column vector small big fast slow value key "
    "order part line customer spark"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _day(rng, n: int, start: str, days: int) -> pd.Series:
    base = np.datetime64(start, "D")
    return pd.Series(base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def generate(seed: int, n_orders: int = 15_000) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders // 7
    i32 = np.int32
    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["cold", "hot", "small", "large", "red", "blue", "old", "new"]
    noun = ["widget", "bolt", "gear", "ring", "plate", "gizmo", "rod", "nut"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _day(rng, n_orders, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )
    n_li = n_orders * 4
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _day(rng, n_li, "1995-01-02", 2500),
        }
    )
    n_ev = n_orders * 2 // 3
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Series(ts).astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = 500
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(8, 90))))
        for _ in range(n_doc)
    ]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_doc).astype(i32),
        }
    )
    return t


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
