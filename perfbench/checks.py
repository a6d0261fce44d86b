"""Correctness gate: the program's outputs against independent references.

- the signature store must hold every distinct input record exactly once,
  with the signature ``gen.signatures`` computes for it with hashlib;
- a ``fetch`` must return exactly the seeded rows of the keys present;
- a registry query must hash-match its DuckDB oracle (columns sorted by
  name, rows by value ``repr``, as the repo's oracle tests compare).

Each check returns the number of mismatches, which counts in the
benchmark's error rate, and never raises on a mismatch.
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STORE_COLS = ["tx_hash", "key_id", "signature"]


def store_files(store: str) -> list[str]:
    return sorted(glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True))


def read_store(store: str) -> pa.Table:
    files = store_files(store)
    if not files:
        return pa.table({c: pa.array([], t) for c, t in
                         zip(STORE_COLS, (pa.string(), pa.int64(), pa.string()))})
    return pa.concat_tables(pq.read_table(f, columns=STORE_COLS) for f in files)


def distinct_by_hash(expected: pa.Table) -> pa.Table:
    """One row per tx_hash, sorted by it (duplicates are identical rows)."""
    t = expected.select(STORE_COLS).group_by(STORE_COLS).aggregate([])
    return t.sort_by("tx_hash")


def check_store(store: str, expected: pa.Table, label: str) -> int:
    """Mismatches between the store and ``expected`` (one row per distinct
    record, sorted by tx_hash): rows stored twice, records missing or
    unexpected, and rows whose key or signature differs."""
    got = read_store(store).sort_by("tx_hash")
    bad = 0
    n_distinct = pc.count_distinct(got["tx_hash"]).as_py() if got.num_rows else 0
    dupes = got.num_rows - n_distinct
    if dupes:
        _say(f"{label}: {dupes} tx_hash values stored more than once")
        bad += dupes
    if dupes == 0 and got.num_rows == expected.num_rows:
        diff = 0
        for c in STORE_COLS:
            eq = pc.equal(got[c], expected[c])
            diff = max(diff, eq.length() - pc.sum(eq).as_py())
        if diff:
            _say(f"{label}: {diff} stored rows differ from the hashlib reference")
        return bad + diff
    want = dict(zip(expected["tx_hash"].to_pylist(),
                    zip(expected["key_id"].to_pylist(), expected["signature"].to_pylist())))
    have = dict(zip(got["tx_hash"].to_pylist(),
                    zip(got["key_id"].to_pylist(), got["signature"].to_pylist())))
    missing = len(want.keys() - have.keys())
    extra = len(have.keys() - want.keys())
    wrong = sum(1 for h in want.keys() & have.keys() if want[h] != have[h])
    _say(f"{label}: {missing} missing, {extra} unexpected, {wrong} wrong rows")
    return bad + missing + extra + wrong


def check_rows(got: list[tuple], want: list[tuple], label: str) -> int:
    """Mismatches between two row multisets (order-insensitive)."""
    g, w = sorted(map(repr, got)), sorted(map(repr, want))
    if g == w:
        return 0
    _say(f"{label}: got {len(g)} rows, expected {len(w)}")
    return max(1, len(set(g) ^ set(w)))


def normalize(rows, columns) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(repr(row[i]) for i in idx) for row in rows)
    return sorted(columns), out


def check_oracle(name: str, s_cols, s_rows, d_cols, d_rows) -> int:
    sc, sn = normalize(s_rows, s_cols)
    dc, dn = normalize(d_rows, d_cols)
    if sc != dc:
        _say(f"{name}: columns {sc} vs oracle {dc}")
        return 1
    if sn != dn:
        n = max(1, len(set(sn) ^ set(dn)))
        _say(f"{name}: {n} rows differ from the DuckDB oracle "
             f"({len(sn)} vs {len(dn)} rows)")
        return n
    return 0


def _say(msg: str) -> None:
    print(f"correctness: {msg}", file=sys.stderr)
