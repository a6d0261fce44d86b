"""The correctness gate catches every kind of wrong store and result."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen


def _expected(n=30):
    return gen.signatures(gen.events(1, np.arange(n)))


def test_exact_store_passes(tmp_path):
    sig = _expected()
    parts = [sig.slice(0, 10), sig.slice(10, 10), sig.slice(20, 10)]
    store = tmp_path / "store"
    for b, p in enumerate(parts):
        os.makedirs(store / f"__bucket={b}")
        pq.write_table(p, store / f"__bucket={b}" / "part-0.parquet")
    assert checks.check_store(str(store), checks.distinct_by_hash(sig), "t") == 0


def test_duplicates_missing_and_wrong_rows_fail(tmp_path):
    sig = _expected()
    exp = checks.distinct_by_hash(sig)
    store = tmp_path / "s1"
    os.makedirs(store / "__bucket=0")
    # row 0 stored twice
    pq.write_table(pa.concat_tables([sig, sig.slice(0, 1)]), store / "__bucket=0" / "a.parquet")
    assert checks.check_store(str(store), exp, "dup") == 1
    # two rows missing
    store = tmp_path / "s2"
    os.makedirs(store / "__bucket=0")
    pq.write_table(sig.slice(2), store / "__bucket=0" / "a.parquet")
    assert checks.check_store(str(store), exp, "missing") == 2
    # one signature wrong
    bad = sig.to_pylist()
    bad[5]["signature"] = "0" * 64
    store = tmp_path / "s3"
    os.makedirs(store / "__bucket=0")
    pq.write_table(pa.Table.from_pylist(bad, schema=sig.schema), store / "__bucket=0" / "a.parquet")
    assert checks.check_store(str(store), exp, "wrong") == 1
    # redelivered copies in the expected input collapse to one row each
    assert checks.distinct_by_hash(pa.concat_tables([sig, sig])).num_rows == sig.num_rows


def test_rows_and_oracle_comparisons():
    assert checks.check_rows([("a", 1)], [("a", 1)], "t") == 0
    assert checks.check_rows([], [("a", 1)], "t") == 1
    assert checks.check_rows([("a", 1), ("a", 1)], [("a", 1)], "t") == 1
    cols = ["b", "a"]
    assert checks.check_oracle("q", cols, [(1, 2), (3, 4)], ["a", "b"], [(4, 3), (2, 1)]) == 0
    assert checks.check_oracle("q", cols, [(1, 2)], ["a", "b"], [(2, 2)]) > 0
    assert checks.check_oracle("q", cols, [(1, 2)], ["a", "c"], [(2, 1)]) == 1
