"""Seeded input generators. The same seed always yields byte-identical
files: every value comes from one ``numpy`` generator per call, and
files are written with fixed writer options."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
ORDER_EPOCH = dt.datetime(1995, 1, 1)
EVENT_EPOCH = dt.datetime(2024, 1, 1)
US_PER_DAY = 86_400_000_000

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose)."""
    salt = int.from_bytes(stream.encode(), "little") % (1 << 63)
    return np.random.Generator(np.random.PCG64([seed, salt]))


def write_parquet(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def cents(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Money values with two decimals, as doubles."""
    return r.integers(int(lo * 100), int(hi * 100), n) / 100.0


def orders(seed: int, n: int, n_cust: int, first_key: int = 0) -> pa.Table:
    r = rng(seed, f"orders:{first_key}")
    days = r.integers(0, 2400, n)
    return pa.table(
        {
            "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": STATUSES[r.integers(0, 3, n)],
            "o_totalprice": cents(r, 1000, 500000, n),
            "o_orderdate": (
                np.datetime64(ORDER_EPOCH, "us") + days * np.timedelta64(1, "D")
            ),
            "o_orderpriority": PRIORITIES[r.integers(0, 5, n)],
        },
        schema=ORDERS_SCHEMA,
    )


def customers(seed: int, n: int) -> pa.Table:
    r = rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": cents(r, -999, 9999, n),
            "c_mktsegment": SEGMENTS[r.integers(0, 5, n)],
        },
        schema=CUSTOMER_SCHEMA,
    )


def events(
    seed: int, n: int, n_users: int, first_id: int = 0, start_us: int = 0,
    span_us: int = 30 * US_PER_DAY,
) -> pa.Table:
    """Clickstream rows with timestamps in ``[start_us, start_us+span_us)``
    after ``EVENT_EPOCH``, sorted by time."""
    r = rng(seed, f"events:{first_id}")
    offs = np.sort(r.integers(start_us, start_us + span_us, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": np.datetime64(EVENT_EPOCH, "us") + offs.astype("timedelta64[us]"),
            "user_id": r.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[r.integers(0, 5, n)],
            "value": cents(r, 0, 500, n),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )
