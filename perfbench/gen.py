"""Seeded input generator for the benchmark.

Everything a workload feeds the engine is made here from one integer seed,
so the same seed always yields byte-identical parquet inputs and the same
statement stream. Tables follow the engine's star schema (lineitem, orders,
customer) plus the `events` stream table and the `documents` corpus, with
the columns and value ranges of the engine's own test tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
EVENTS_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast index segment broker server route cache shard"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# The curation corpus is fixed (not drawn from --seed): its answers are
# pinned as digests in digests.json, so only the query order varies.
CORPUS_SEED = 20240101


def _date_us(rng: np.random.Generator, n: int, first: str, days: int) -> np.ndarray:
    base = np.datetime64(first, "D").astype("datetime64[us]")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_cust = max(n_orders // 10, 50)
    n_line = n_orders * 4
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(list("FOP"))[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": pa.array(_date_us(rng, n_orders, "1995-01-01", 2400), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_line // 30, 100), n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 100000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(list("FO"))[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_date_us(rng, n_line, "1995-01-02", 2500), pa.timestamp("us")),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def events_table(rng: np.random.Generator, n: int, days: int, n_users: int) -> pa.Table:
    """`n` events with microsecond timestamps over `days` days from
    2024-01-01."""
    ts_us = (
        EVENTS_T0_MS + rng.integers(0, days, n) * DAY_MS + rng.integers(0, DAY_MS, n)
    ) * 1000 + rng.integers(0, 1000, n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, n, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad corpus with a planted share of near-duplicates (a copy
    of an earlier document with a few words changed), so dedup finds
    real pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(words[rng.integers(0, len(words))])
            toks.append("dup")
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 80)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One `<name>.parquet` file per table — the layout
    `catalog.load_tables` and the declared queries read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
