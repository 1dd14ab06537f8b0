"""Deterministic synthetic fixtures for the benchmark.

Writes the ten tables the package's catalog knows (``catalog.TABLES``) as
one single-row-group parquet file each, with the column names and Arrow
types of the repository's seed-42 test fixtures (every timestamp in
microseconds): a TPC-H-like star schema, an ``events`` stream table, and
the LLM-curation ``documents`` and ``embeddings`` tables. Row counts scale
with ``sf`` (``sf=0.01`` gives 60k lineitem rows); the same ``(sf, seed)``
always gives byte-identical files. ``design.json`` records how the output
compares with those fixtures at the same scale.

Unlike the package's fixtures, ``(l_orderkey, l_linenumber)`` is unique, as
in TPC-H, so ``l_orderkey * 8 + l_linenumber`` is a valid table key for the
lakehouse workload.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["black", "blue", "green", "hot", "red", "silver", "small", "white"]
NOUNS = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _region(rng) -> pd.DataFrame:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": names}
    )


def _nation(rng) -> pd.DataFrame:
    k = np.arange(25, dtype=np.int32)
    return pd.DataFrame(
        {
            "n_nationkey": k,
            "n_name": [f"NATION_{i}" for i in k],
            "n_regionkey": (k % 5).astype(np.int32),
        }
    )


def _customer(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": _names("Customer", n),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def _supplier(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": _names("Supplier", n),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, n: int) -> pd.DataFrame:
    k = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": [
                f"{c} {w}" for c, w in zip(rng.choice(COLORS, n), rng.choice(NOUNS, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1),
        }
    )


def _orders(rng, n: int, n_cust: int) -> pd.DataFrame:
    days = rng.integers(0, ORDER_DAYS, n)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": (ORDER_START + days.astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def _lineitem(rng, orders: pd.DataFrame, n_part: int, n_supp: int) -> pd.DataFrame:
    lines = rng.integers(1, 8, len(orders))
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    # linenumber runs 1..lines within each order
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    odate = np.repeat(orders["o_orderdate"].to_numpy(), lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": odate + rng.integers(1, 122, n).astype("timedelta64[D]"),
        }
    )


def _events(rng, n: int, n_users: int) -> pd.DataFrame:
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EVENT_START + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pd.DataFrame:
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(words), m)])
        for m in rng.integers(10, 100, n)
    ]
    # 5% near-duplicates: an earlier document's text plus a " dup" suffix
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    v = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centroids[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v),
            "label": labels,
        }
    )


def generate(out_dir: str, sf: float, seed: int = FIXTURE_SEED) -> dict[str, dict]:
    """Write every table under ``out_dir``; returns ``{table: {rows, bytes}}``."""
    def rng(i: int):
        return np.random.default_rng([seed, i])

    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    orders = _orders(rng(6), n_orders, n_cust)
    tables = {
        "region": _region(rng(1)),
        "nation": _nation(rng(2)),
        "customer": _customer(rng(3), n_cust),
        "supplier": _supplier(rng(4), n_supp),
        "part": _part(rng(5), n_part),
        "orders": orders,
        "lineitem": _lineitem(rng(7), orders, n_part, n_supp),
        "events": _events(rng(8), max(100, int(1_000_000 * sf)), max(10, int(15_000 * sf))),
        "documents": _documents(rng(9), max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng(10), max(500, int(20_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, path, row_group_size=len(df) + 1)
        sizes[name] = {"rows": len(df), "bytes": os.path.getsize(path)}
    return sizes
