"""Seeded input generation for the benchmark workloads.

Everything the program sees is made here from ``--seed``: events-schema
put objects, the staged backlog, the pre-seeded signature store's rows
and the registry tables for the query mix. The same seed gives the same
bytes; no clock or process state enters a generated value.

The expected signature of a record is computed with ``hashlib`` in
:func:`signatures`, which is the reference the correctness gate compares
the program's stored signatures against.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
N_KEYS = 100
BASE_TS_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
# event time advances 5 ms per event id, so a redelivered copy of any record
# of a run stays far inside signed_stream's 1-hour watermark
TS_STEP_US = 5_000

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
    """Independent generator per named stream, so adding draws to one
    input never shifts another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def _mix(seed: int, ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 of (seed, salt, id): a per-id pseudo-random word, so an
    attribute never depends on which other ids are generated with it."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) + np.uint64(
            (seed * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def events(seed: int, event_ids: np.ndarray) -> pa.Table:
    """Events-schema rows for ``event_ids``. Each column is a pure function
    of (seed, event_id), so a redelivered copy is byte-identical to its
    original and content-hash dedup must drop it."""
    ids = np.asarray(event_ids, dtype=np.int64)
    types = _mix(seed, ids, 1) % np.uint64(len(EVENT_TYPES))
    cents = (_mix(seed, ids, 2) % np.uint64(56_000)).astype(np.int64)
    users = (_mix(seed, ids, 3) % np.uint64(1_500)).astype(np.int64)
    kprop = _mix(seed, ids, 4) % np.uint64(100)
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(BASE_TS_US + ids * TS_STEP_US, pa.timestamp("us")),
            "user_id": users,
            "event_type": [EVENT_TYPES[t] for t in types],
            "value": cents / 100.0,
            "props": [f'{{"k": {k}}}' for k in kprop],
        },
        schema=EVENTS_SCHEMA,
    )


def delivery_plan(
    seed: int, first_id: int, n_objects: int, per_object: int, redeliver: float,
    stream: str,
) -> list[np.ndarray]:
    """Event ids per put object: fresh ids in arrival order, with a
    ``redeliver`` share of each object's slots taken by copies of records
    delivered in earlier objects (or earlier in the same object)."""
    r = rng(seed, f"plan-{stream}")
    out = []
    next_id = first_id
    for _ in range(n_objects):
        dup = r.random(per_object) < redeliver
        ids = np.empty(per_object, dtype=np.int64)
        for i in range(per_object):
            if dup[i] and next_id > first_id:
                ids[i] = r.integers(first_id, next_id)
            else:
                ids[i] = next_id
                next_id += 1
        out.append(ids)
    return out


def write_atomic(table: pa.Table, staging: str, final_dir: str) -> None:
    """Write ``events.parquet`` in a staging directory outside the landing
    tree, then rename the directory into place: the file source never
    lists a half-written object."""
    os.makedirs(staging, exist_ok=True)
    pq.write_table(table, os.path.join(staging, "events.parquet"))
    os.rename(staging, final_dir)


def object_dir(landing: str, seq: int) -> str:
    return os.path.join(landing, f"{seq:08d}")


def canon(event_id: int, event_type: str, value: float) -> str:
    """signed_stream's canonical record string: event_id|event_type|value
    with Spark's double-to-string rendering (shortest round-trip form,
    which ``repr`` matches for the two-decimal values generated here)."""
    return f"{event_id}|{event_type}|{value!r}"


_PRIV = {k: hashlib.sha256(f"key_{k}".encode()).hexdigest() for k in range(N_KEYS)}


def signatures(table: pa.Table) -> pa.Table:
    """signed_stream's output for each row of an events table, computed
    with hashlib: ``tx_hash`` = sha256 over the canonical record, ``key_id``
    = event_id mod 100, ``signature`` = sha256(tx_hash|sha256(key_<id>)),
    and the record's ``ts``. Duplicate records give duplicate rows."""
    hashes, keys, sigs = [], [], []
    for eid, et, v in zip(
        table.column("event_id").to_pylist(),
        table.column("event_type").to_pylist(),
        table.column("value").to_pylist(),
    ):
        h = hashlib.sha256(canon(eid, et, v).encode()).hexdigest()
        k = eid % N_KEYS
        hashes.append(h)
        keys.append(k)
        sigs.append(hashlib.sha256(f"{h}|{_PRIV[k]}".encode()).hexdigest())
    return pa.table(
        {
            "tx_hash": hashes,
            "key_id": pa.array(keys, pa.int64()),
            "signature": sigs,
            "ts": table.column("ts"),
        }
    )


# --- registry tables for the query mix -------------------------------------


def registry_tables(seed: int, n_events: int, n_orders: int, n_suppliers: int) -> dict[str, pa.Table]:
    """``events``, ``orders`` and ``supplier`` in the schemas of the
    repository's test tables (TESTDATA.md), sized by the caller. Event time
    spreads over January 2024 in id order, as in those tables."""
    r = rng(seed, "registry")
    month_us = 30 * 86_400 * 1_000_000
    ts = BASE_TS_US + np.sort(r.integers(0, month_us, n_events))
    ev = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": r.integers(0, 1_500, n_events).astype(np.int64),
            "event_type": [EVENT_TYPES[t] for t in r.integers(0, 5, n_events)],
            "value": r.integers(0, 56_000, n_events) / 100.0,
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        },
        schema=EVENTS_SCHEMA,
    )
    day_us = 86_400 * 1_000_000
    d0 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": r.integers(0, 15_000, n_orders).astype(np.int64),
            "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, n_orders)],
            "o_totalprice": r.integers(100_000, 50_000_000, n_orders) / 100.0,
            "o_orderdate": pa.array(
                d0 + r.integers(0, 2_404, n_orders) * day_us, pa.timestamp("us")
            ),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                for i in r.integers(0, 5, n_orders)
            ],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
            "s_nationkey": r.integers(0, 25, n_suppliers).astype(np.int32),
            "s_acctbal": r.integers(-99_999, 999_999, n_suppliers) / 100.0,
        }
    )
    return {"events": ev, "orders": orders, "supplier": supplier}
