"""Mapping put objects to micro-batches through the file-source log."""

import json
import os

import pytest

from perfbench import latency


def _write_log(log_dir, name, entries):
    with open(os.path.join(log_dir, name), "w") as f:
        f.write("v1\n")
        for seq, bid in entries:
            path = f"file:///x/landing/{seq:08d}/events.parquet"
            f.write(json.dumps({"path": path, "timestamp": 0, "batchId": bid}) + "\n")


def _write_offsets(ckpt, bid, log_offset):
    d = ckpt / "offsets"
    d.mkdir(exist_ok=True)
    (d / str(bid)).write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
        + json.dumps({"logOffset": log_offset}))


def test_compact_file_does_not_remap_earlier_objects(tmp_path):
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    # two objects per source log offset; offset 9 compacts all earlier ones
    entries = {o: [(2 * o, o), (2 * o + 1, o)] for o in range(10)}
    for o in range(9):
        _write_log(log_dir, str(o), entries[o])
    _write_log(log_dir, "9.compact", [e for o in range(10) for e in entries[o]])
    _write_log(log_dir, "10", [(20, 10)])
    (log_dir / ".9.compact.crc").write_text("crc")
    for b in range(11):
        _write_offsets(tmp_path, b, b)
    got = latency.object_batches(str(tmp_path))
    assert got == {2 * o + i: o for o in range(10) for i in (0, 1)} | {20: 10}


def test_watermark_only_batches_shift_batch_ids(tmp_path):
    """Batch 1 reads no new files, so source log offset 1 is batch 2, and
    an object whose offset no batch has reached yet maps to none."""
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    _write_log(log_dir, "0", [(0, 0), (1, 0)])
    _write_log(log_dir, "1", [(2, 1)])
    _write_log(log_dir, "2", [(3, 2), (4, 2)])
    _write_log(log_dir, "3", [(5, 3)])
    for bid, off in enumerate([0, 0, 1, 3]):  # batch 3 reads offsets 2 and 3
        _write_offsets(tmp_path, bid, off)
    (tmp_path / "offsets" / ".4.1234.tmp").write_text("")
    assert latency.object_batches(str(tmp_path)) == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 3}
    _write_log(log_dir, "4", [(6, 4)])
    assert 6 not in latency.object_batches(str(tmp_path))


def test_record_latencies_from_commit_times():
    due = {0: 10.0, 1: 11.0, 2: 12.0}
    rows = {0: 2, 1: 2, 2: 2}
    batch_of = {0: 0, 1: 1, 2: 1}
    committed = {0: 13.0, 1: 16.5}
    lat, missing = latency.record_latencies(due, rows, batch_of, committed)
    assert lat == [3.0, 3.0, 5.5, 5.5, 4.5, 4.5]
    assert missing == []
    lat, missing = latency.record_latencies(due, rows, {0: 0}, committed)
    assert lat == [3.0, 3.0] and missing == [1, 2]


def test_quantile_and_objects_per_batch():
    assert latency.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == 3.0
    assert latency.quantile([7.0], 0.9) == 7.0
    assert latency.quantile(list(range(11)), 0.9) == pytest.approx(9.0)
    assert latency.objects_per_batch({0: 0, 1: 0, 2: 1, 3: 2, 4: 2, 5: 2}) == [2, 1, 3]
