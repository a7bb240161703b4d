"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table, with the schemas the engine's catalog
reads, at about TPC-H scale factor 0.1: ``orders``, a January-2024
``events`` stream and a 64-dimensional ``embeddings`` table. ``events.ts``
is TIMESTAMP(NANOS), as in the data the engine serves, so reads take the
engine's nanosecond path. Each table draws from its own generator seeded
with ``(seed, table)``: the same seed always gives the same data, a table's
values do not depend on which other tables are written, and a different
seed draws different values from the same distributions, so the cost of
every query stays comparable across seeds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_USERS = 1_500
N_EMBEDDINGS = 2_000
EMBEDDING_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
ORDERS_FIRST = dt.date(1995, 1, 1)
ORDERS_LAST = dt.date(2001, 8, 1)

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0)


def orders(rng: np.random.Generator) -> pa.Table:
    epoch_days = (ORDERS_FIRST - dt.date(1970, 1, 1)).days
    days = rng.integers(0, (ORDERS_LAST - ORDERS_FIRST).days + 1, N_ORDERS) + epoch_days
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 450000.0, N_ORDERS),
            "o_orderdate": pa.array(days * 86_400_000_000, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )


def events(rng: np.random.Generator) -> pa.Table:
    """Sorted by ``ts`` (nanosecond resolution); ids follow time order."""
    start_ns = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 10**9
    ts = np.sort(rng.integers(0, EVENTS_DAYS * 86_400 * 10**9, N_EVENTS)) + start_ns
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS)),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0.0, 200.0, N_EVENTS),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.uniform(-0.6, 0.6, (N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )


#: table name -> (generator stream id, builder)
TABLES = {"orders": (0, orders), "events": (1, events), "embeddings": (2, embeddings)}


def generate(out_dir: str, seed: int, only: tuple[str, ...]) -> dict[str, int]:
    """Write the tables named in ``only`` under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in only:
        stream, build = TABLES[name]
        table = build(np.random.default_rng([seed, stream]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
