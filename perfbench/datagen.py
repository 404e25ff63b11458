"""Seeded input generator for the benchmark.

Writes the engine's fixture layout (``<dir>/<table>.parquet``, one file
per table, the schemas of the TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) from a seed, so a run needs nothing
outside its checkout and the same seed always gives byte-identical
inputs. Distributions follow the engine's test fixtures: orders spread
uniformly over 1995-01-01..2001-08-01, ~4 lineitems per order, events
over 2024-01 for one user in ten, ``props`` drawn from 100 values.

The streaming workload gets the event stream cut into landing slices
(``event_slices``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "purchase", "error", "view"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "a the data spark table row column key value join scan sort merge "
    "agg group window stream batch query order line part customer hash "
    "filter fast slow big small"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_START = dt.date(1995, 1, 1)
ORDER_END = dt.date(2001, 8, 1)  # tables.REF_DATE, the newest order date
SHIP_END = dt.date(2001, 11, 4)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    """``n`` midnight timestamps (µs) uniform over [start, end]."""
    base = np.datetime64(start, "D")
    off = rng.integers(0, (end - start).days + 1, n)
    return (base + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng, n_events: int, n_users: int) -> dict:
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_events))
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64(EVENTS_START, "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": np.round(rng.exponential(60.0, n_events), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }


def generate_tables(out_dir: str, seed: int, n_customers: int) -> dict[str, int]:
    """Write every fixture table for ``n_customers`` customers; returns
    row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = 10 * n_customers
    n_supp = max(10, n_customers // 15)
    n_part = max(20, n_customers * 4 // 3)
    n_docs = max(30, n_customers // 3)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_customers)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [" ".join(rng.choice(WORDS, 2)) for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "PROMO"], n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, n_orders, ORDER_START, ORDER_END),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    per_order = rng.integers(1, 8, n_orders)
    n_lines = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": _days(rng, n_lines, dt.date(1995, 1, 2), SHIP_END),
    })
    n_events = n_customers * 20 // 3
    _write(out_dir, "events", _events(rng, n_events, max(1, n_customers // 10)))
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(20, 80))))
        for _ in range(n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_docs, 16)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 8, n_docs).astype(np.int32),
    })
    return {
        "customer": n_customers, "orders": n_orders, "lineitem": n_lines,
        "events": n_events, "documents": n_docs,
    }


def event_slices(
    seed: int, n_slices: int, per_slice: int, n_users: int
) -> list[pa.Table]:
    """The event stream in arrival order, cut into ``n_slices`` landing
    files of ``per_slice`` events each (ts ascending across slices)."""
    rng = np.random.default_rng([seed, 2])
    table = pa.table(_events(rng, n_slices * per_slice, n_users))
    return [table.slice(i * per_slice, per_slice) for i in range(n_slices)]
