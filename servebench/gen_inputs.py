"""Seeded input tables for the serving benchmark.

Writes `events` and `customer` with the shape of the testdata star schema
(sf0.1: 100k events over 30 UTC days from 2024-01-01, 1500 users, 5 event
types; 15k customers in 5 market segments) as Spark-style parquet
directories. The same seed and size always give the same rows.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = 1704067200  # 2024-01-01T00:00:00Z; keep in step with Inputs.scala
DAYS = 30
USERS = 1500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# name -> (events, customers, files); rows per row group stay bounded so a
# wide table splits into many scan tasks
SIZES = {
    "smoke": (1_000, 150, 1),
    "base": (100_000, 15_000, 1),
    "wide": (500_000, 15_000, 4),
}
ROW_GROUP = 65_536


def _events(rng, n):
    span = DAYS * 86400 * 1_000_000
    ts = FIRST_DAY * 1_000_000 + rng.integers(0, span, n)
    kinds = np.floor(rng.random(n) ** 1.6 * len(EVENT_TYPES)).astype(np.int32)
    props = pa.array([f'{{"k": {k}}}' for k in range(100)]).take(
        pa.array(rng.integers(0, 100, n)))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES).take(pa.array(kinds)),
        "value": pa.array(np.round(rng.random(n) * 20000) / 100),
        "props": props,
    })


def _customers(rng, n):
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(ids + 1),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n) * 1_100_000) / 100 - 1000),
        "c_mktsegment": pa.array(SEGMENTS).take(pa.array(rng.integers(0, len(SEGMENTS), n))),
    })


def _write(table, path, files):
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=ROW_GROUP)


def ensure(cache_root, size, seed):
    """Return the cached input directory for (size, seed), writing it once."""
    events, customers, files = SIZES[size]
    out = os.path.join(cache_root, f"{size}-{events}-seed{seed}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed)
    _write(_events(rng, events), os.path.join(tmp, "events.parquet"), files)
    _write(_customers(rng, customers), os.path.join(tmp, "customer.parquet"), 1)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
