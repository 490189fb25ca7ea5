"""Seeded generator for the benchmark's sf0.1 input tables.

The engine's queries read a TPC-H-shaped star schema plus an `events`
table. The benchmark makes the two tables its workloads read, with the
row counts, key ranges and value shapes of the sf0.1 fixtures:

- `customer`: 15,000 rows, keys 0..14999, five market segments.
- `events`: 100,000 rows over 30 days from 2024-01-01, 1,500 users,
  five event types, values ~ exponential(mean 50) in cents, props
  `{"k": 0..99}`; `ts` strictly increasing with `event_id`.

The same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_CUSTOMERS = 15_000
N_EVENTS = 100_000
N_USERS = 1_500
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def customer(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
        "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, len(SEGMENTS), N_CUSTOMERS)),
    })


def events(rng: np.random.Generator) -> pa.Table:
    # distinct sorted microsecond offsets: sample without replacement
    offs = np.sort(rng.choice(SPAN_US, size=N_EVENTS, replace=False))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(T0_US + offs, type=pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, len(EVENT_TYPES), N_EVENTS)),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def generate(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in (("customer", customer(rng)), ("events", events(rng))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
