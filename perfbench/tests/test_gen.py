"""Generator determinism: the same seed gives the same inputs."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def test_events_are_a_function_of_seed_and_id():
    ids = np.array([5, 1, 99, 5])
    a, b = gen.events(7, ids), gen.events(7, ids)
    assert a.equals(b)
    # a redelivered copy is byte-identical to its original
    assert a.slice(0, 1).equals(a.slice(3, 1))
    # the attributes of an id do not depend on the other ids drawn with it
    assert gen.events(7, np.array([99])).equals(a.slice(2, 1))
    assert not gen.events(8, ids).equals(a)


def test_delivery_plan_is_seeded_and_redelivers():
    p1 = gen.delivery_plan(3, 1000, 20, 200, 0.1, "s")
    p2 = gen.delivery_plan(3, 1000, 20, 200, 0.1, "s")
    assert all(np.array_equal(x, y) for x, y in zip(p1, p2))
    assert not all(np.array_equal(x, y) for x, y in
                   zip(p1, gen.delivery_plan(4, 1000, 20, 200, 0.1, "s")))
    ids = np.concatenate(p1)
    dup_share = 1 - len(np.unique(ids)) / len(ids)
    assert 0.05 < dup_share < 0.15
    assert ids.min() == 1000


def test_registry_tables_are_seeded():
    a = gen.registry_tables(1, 500, 600, 10)
    b = gen.registry_tables(1, 500, 600, 10)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(gen.registry_tables(2, 500, 600, 10)["events"])
    assert a["supplier"].num_rows == 10


def test_signature_construction():
    t = gen.events(1, np.array([42]))
    row = t.to_pylist()[0]
    canon = f"42|{row['event_type']}|{row['value']!r}"
    h = hashlib.sha256(canon.encode()).hexdigest()
    priv = hashlib.sha256(b"key_42").hexdigest()
    s = gen.signatures(t).to_pylist()[0]
    assert s["tx_hash"] == h
    assert s["key_id"] == 42
    assert s["signature"] == hashlib.sha256(f"{h}|{priv}".encode()).hexdigest()


def test_write_atomic_lands_whole_objects(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    t = gen.events(1, np.arange(10))
    final = gen.object_dir(str(landing), 3)
    gen.write_atomic(t, str(tmp_path / "staging" / "3"), final)
    assert os.listdir(landing) == ["00000003"]
    assert pq.read_table(os.path.join(final, "events.parquet")).equals(t)
    assert os.listdir(tmp_path / "staging") == []
