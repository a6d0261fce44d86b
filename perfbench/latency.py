"""Put-to-signature latency, measured from outside the program.

Each put object lands as ``<landing>/<seq>/events.parquet``. Two logs in
the query's checkpoint say which micro-batch read it:

- the file source's log (``sources/0/``) has one JSON entry per file, whose
  ``batchId`` field is the source's own log offset. Every tenth log file is
  an ``N.compact`` file repeating every earlier entry, so entries are read
  by that field, never by the name of the file holding them;
- the query's offset log (``offsets/<batch id>``) records the source log
  offset each micro-batch read up to. The two numberings part as soon as a
  batch runs without new files (a watermark-only batch of the dedup
  operator), so a source log offset is not a batch id.

A record's latency is the time from its object's scheduled put to the
return of the ``foreachBatch`` call of the batch that took the object.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics


def _json_lines(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def object_log_offsets(checkpoint: str) -> dict[int, int]:
    """Put-object sequence number -> file-source log offset."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[int, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.startswith("."):
            for entry in _json_lines(os.path.join(log_dir, name)):
                seq = int(entry["path"].rstrip("/").split("/")[-2])
                out[seq] = int(entry["batchId"])
    return out


def batch_end_offsets(checkpoint: str) -> dict[int, int]:
    """Micro-batch id -> the source log offset it read up to."""
    log_dir = os.path.join(checkpoint, "offsets")
    out: dict[int, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.isdigit():
            for entry in _json_lines(os.path.join(log_dir, name)):
                if "logOffset" in entry:
                    out[int(name)] = int(entry["logOffset"])
    return out


def object_batches(checkpoint: str) -> dict[int, int]:
    """Put-object sequence number -> id of the micro-batch that read it:
    the first batch whose end offset reaches the object's log offset."""
    ends = sorted(batch_end_offsets(checkpoint).items())
    bids = [b for b, _ in ends]
    offs = [o for _, o in ends]
    out: dict[int, int] = {}
    for seq, off in object_log_offsets(checkpoint).items():
        i = bisect.bisect_left(offs, off)
        if i < len(offs):
            out[seq] = bids[i]
    return out


def record_latencies(
    put_due: dict[int, float],
    rows: dict[int, int],
    batch_of: dict[int, int],
    committed: dict[int, float],
) -> tuple[list[float], list[int]]:
    """One latency per record of every object whose batch committed, and
    the sequence numbers of objects with no committed batch.

    ``put_due``: object -> scheduled put time; ``rows``: object -> records
    in it; ``batch_of``: object -> batch id; ``committed``: batch id ->
    time its foreachBatch call returned (all times on one clock).
    """
    out: list[float] = []
    missing: list[int] = []
    for seq, due in sorted(put_due.items()):
        bid = batch_of.get(seq)
        if bid is None or bid not in committed:
            missing.append(seq)
            continue
        out.extend([committed[bid] - due] * rows[seq])
    return out, missing


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by the inclusive method, which
    interpolates between samples and so needs no minimum count."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def objects_per_batch(batch_of: dict[int, int]) -> list[int]:
    counts: dict[int, int] = {}
    for bid in batch_of.values():
        counts[bid] = counts.get(bid, 0) + 1
    return [counts[b] for b in sorted(counts)]
