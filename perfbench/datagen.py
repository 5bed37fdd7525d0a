"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed gives the
same inputs on every run. The analytics tables are fitted to the
repository's sf0.1 testdata: the same row counts, schema, parquet layout and
value distributions. perfbench/README.md records how the ten queries compare
on the two.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the four tables the ten analytics queries read
ANALYTICS_ROWS = {"events": 100_000, "lineitem": 600_000, "orders": 150_000, "customer": 15_000}

_EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _days(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _pick(rng, values: np.ndarray, n: int) -> pa.Array:
    return pa.array(values[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """events / lineitem / orders / customer at ``scale`` x sf0.1."""
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * scale), 50) for t, r in ANALYTICS_ROWS.items()}

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, ne)).astype("datetime64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, 1500, ne, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )

    no, nc, nl = n["orders"], n["customer"], n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), nl),
            "l_linestatus": _pick(rng, np.array(["F", "O"]), nl),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": _pick(rng, np.array(["F", "O", "P"]), no),
            "o_totalprice": pa.array(_money(rng, 1_000.0, 500_000.0, no)),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -1_000.0, 10_000.0, nc)),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    return {"events": events, "lineitem": lineitem, "orders": orders, "customer": customer}


def write_analytics_tables(seed: int, out_dir: str, scale: float = 1.0) -> list[str]:
    """Write the tables as ``<out_dir>/<table>.parquet``; returns the names."""
    os.makedirs(out_dir, exist_ok=True)
    tables = analytics_tables(seed, scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)


def pubsub_records(
    seed: int, iterations: int, batch: int, value_bytes: int, partitions: int
) -> list[list[dict]]:
    """One record list per lockstep iteration: ``batch`` keyed records of
    ``value_bytes`` random bytes each, all routed to partition i mod
    ``partitions``."""
    rnd = random.Random(seed)
    return [
        [
            {
                "partition": i % partitions,
                "key": f"{seed}-{i}-{j}".encode(),
                "value": rnd.randbytes(value_bytes),
            }
            for j in range(batch)
        ]
        for i in range(iterations)
    ]
