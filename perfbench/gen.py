"""Seeded input generators for the benchmark.

Every table the workloads read is made here from a seed, before the
Spark session starts, so generator cost never lands on a timed path.
The schemas and value domains follow the star schema the package's
plans are written against (``region nation customer supplier part
orders lineitem events documents embeddings``, one parquet file each).
The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
_ADJ = ["cold", "small", "big", "fast", "slow", "red", "blue", "green"]
_NOUN = ["widget", "gadget", "bolt", "gear", "valve", "panel", "spring", "lever"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
EVENTS_START = datetime(2024, 1, 1)
_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2498


def _ts_us(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int((base - datetime(1970, 1, 1)) / timedelta(microseconds=1))
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = rng.integers(0, 6, n)
    ship = rng.integers(1, _SHIP_DAYS + 1, n) * 86_400_000_000
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags % 3]),
            "l_linestatus": pa.array(np.array(["O", "F"])[flags // 3]),
            "l_shipdate": _ts_us(_ORDER_START, ship),
        }
    )


def _events(
    rng: np.random.Generator, first_id: int, n: int, start_us: int, span_us: int, n_users: int
) -> pa.Table:
    """``n`` events with ids from ``first_id``, timestamps strictly
    increasing inside ``[start_us, start_us + span_us)`` after
    :data:`EVENTS_START` (so a stream of consecutive slices is in
    event-time order and no row is ever late)."""
    offs = np.sort(rng.choice(span_us, size=n, replace=False)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": _ts_us(EVENTS_START, offs),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten tables at ``scale`` (1.0 ≈ 6M lineitem rows) into
    ``out_dir`` as ``<name>.parquet``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_orders = max(500, int(1_500_000 * scale))
    n_lines = 4 * n_orders
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(300, int(50_000 * scale))
    n_emb = max(300, int(20_000 * scale))
    counts: dict[str, int] = {}

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    put("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}))
    put(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    put(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
    )
    put(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    )
    put(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _PTYPES[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
    )
    put(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
                "o_orderdate": _ts_us(_ORDER_START, rng.integers(0, _ORDER_DAYS + 1, n_orders) * 86_400_000_000),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
            }
        ),
    )
    put("lineitem", _lineitem(rng, n_lines, n_orders, n_part, n_supp))
    put(
        "events",
        _events(rng, 0, n_events, 0, 30 * 86_400_000_000, max(50, n_cust // 10)),
    )
    put("documents", _documents(rng, n_docs))
    put("embeddings", _embeddings(rng, n_emb))
    return counts


def event_batches(seed: int, n_batches: int, rows: int, step_us: int, n_users: int) -> list[pa.Table]:
    """Consecutive, non-overlapping event slices for the stream
    workload: slice ``i`` covers ``[i*step_us, (i+1)*step_us)`` so the
    stream is in event-time order (no row is late)."""
    rng = np.random.default_rng([seed, 2])
    return [
        _events(rng, i * rows, rows, i * step_us, step_us, n_users) for i in range(n_batches)
    ]
