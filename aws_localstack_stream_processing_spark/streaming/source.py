"""Streaming sources.

The reference ingests via Firehose DirectPut and consumes S3-event/SQS
notifications (SURVEY §2.1 S1/S5/S6). Spark's file-stream source subsumes
the S3→SQS→Lambda hop: new files under a path become micro-batch work items,
checkpointed exactly-once — no queue, no visibility timeouts.

For the correctness harness the driver's ``events`` parquet is treated as an
append-only stream (one file = one micro-batch; ``maxFilesPerTrigger``
reproduces the reference's batch-size knob, app.ts:46).

The ``staged_*`` delivery plans reproduce the reference's S3
``ObjectCreated`` → SQS delivery (at-least-once, redelivery, arrival order
chosen by the delivery layer; app.ts:434-438) as mtime-ordered files,
staged once per state of the source file by :func:`stage_once`.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The ``events`` table as an unbounded file stream (SURVEY §1.1 #1)."""
    apply_runtime_confs(spark)
    base = sf_dir.rstrip("/")
    batch = spark.read.parquet(f"{base}/events.parquet")
    # the file source requires a directory; pathGlobFilter selects the table
    # (the prefix filter of the reference's S3 notification, app.ts:437)
    reader = spark.readStream.schema(batch.schema).option(
        "pathGlobFilter", "events.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(base)
    # ts arrives as a raw nanosecond LongType, TIMESTAMP_NTZ, or TIMESTAMP
    # depending on the writer. Watermarks require TIMESTAMP (not NTZ), so
    # normalize; the session timezone is pinned to UTC, which makes the
    # NTZ -> TIMESTAMP reinterpretation deterministic.
    ts_type = dict(batch.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type != "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stage_once(src_file: str, name: str, build) -> str:
    """The staged-input lifecycle every delivery plan below shares: a
    directory ``/tmp/slsp_<name>_<dir basename>_<size>_<mtime_ns>``
    built once per state of ``src_file`` and reused until the source
    changes (keyed by the SOURCE file's identity: if the driver
    regenerates the testdata, a stale staged copy would silently diverge
    from the oracle's view of the same table).

    The ``_STAGED`` marker is written last, after ``build(dir)``
    returns, so it commits the build. Absent marker ⇒ whatever a dead or
    failed build left behind is removed and ``build`` runs again into a
    fresh, empty directory — a half-written stage (or a checkpoint that
    would resume over re-written files) is never reused. Builds run in
    place, never build-then-rename: staged checkpoints and manifests
    record absolute file paths."""
    st = os.stat(src_file)
    tag = os.path.basename(os.path.dirname(os.path.abspath(src_file)))
    stage = f"/tmp/slsp_{name}_{tag}_{st.st_size}_{st.st_mtime_ns}"
    marker = os.path.join(stage, "_STAGED")
    if os.path.exists(marker):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    build(stage)
    with open(marker, "w") as f:
        f.write("ok")
    return stage


def set_batch_mtimes(*sides: list[str]) -> None:
    """Arrival order = batch index: the file source lists by mtime, so
    batch k's files get mtime ``base + 10·k``. Each side is one
    directory's files in batch order; the k-th files of every side share
    an mtime, so two-sided plans trigger in lockstep."""
    base = time.time() - 3600
    for side in sides:
        for k, path in enumerate(side):
            os.utime(path, (base + 10 * k, base + 10 * k))


def _events_file(sf_dir: str) -> str:
    return f"{sf_dir.rstrip('/')}/events.parquet"


def _copy_to_parquet(jobs: list[tuple[str, str]]) -> None:
    """DuckDB ``COPY (select) TO path`` for each ``(select, path)``."""
    import duckdb

    with duckdb.connect() as con:
        for select, path in jobs:
            con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def _side_files(stage: str, n: int) -> tuple[list[str], list[str]]:
    """``left/f<k>.parquet`` and ``right/f<k>.parquet`` paths (k < n) of a
    two-sided stage, with both side directories created."""
    sides = []
    for side in ("left", "right"):
        os.makedirs(f"{stage}/{side}")
        sides.append([f"{stage}/{side}/f{k}.parquet" for k in range(n)])
    return sides[0], sides[1]


# the k-th 5-day slice of the month (slice 5 takes the tail days)
_SLICE = "least((day(ts) - 1) // 5, 5)"


def _id_mod_batches(sf_dir: str, n_batches: int, name: str, redeliver: bool) -> str:
    """``events`` as ``n_batches`` mtime-ordered files, batch k = rows
    with ``event_id % n_batches = k``; with ``redeliver`` the last file
    also carries batch 0's ``event_id % 5 = 0`` slice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = _events_file(sf_dir)

    def build(stage: str) -> None:
        t = pq.read_table(src)
        ids = t["event_id"].to_numpy()
        paths = [os.path.join(stage, f"b{k}.parquet") for k in range(n_batches)]
        for k, path in enumerate(paths):
            mask = ids % n_batches == k
            if redeliver and k == n_batches - 1:
                mask = mask | ((ids % n_batches == 0) & (ids % 5 == 0))
            pq.write_table(t.filter(pa.array(mask)), path)
        set_batch_mtimes(paths)

    return stage_once(src, f"{name}{n_batches}", build)


def staged_event_batches(sf_dir: str, n_batches: int = 3) -> str:
    """Stage the ``events`` table as ``n_batches`` single-parquet files
    (batch k = rows with ``event_id % n_batches = k``) with strictly
    increasing modification times, so the file-stream source replays them
    as a DETERMINISTIC micro-batch sequence (``maxFilesPerTrigger=1``).

    This is the harness for exact late-data semantics: because batch
    membership and arrival order are pure functions of ``event_id``, the
    watermark trajectory — and therefore the exact set of dropped late
    rows — is deterministic and SQL-expressible (see
    ``stream_watermark_late_drop``)."""
    return _id_mod_batches(sf_dir, n_batches, "late", redeliver=False)


def staged_redelivery_batches(sf_dir: str, n_batches: int = 6) -> str:
    """Stage ``events`` as ``n_batches`` mtime-ordered files (batch k =
    ``event_id % n_batches = k``) where the LAST file additionally
    redelivers batch 0's ``event_id % 5 = 0`` slice — an at-least-once
    delivery whose duplicate copies arrive many batches (and several
    watermark advances) after their originals. Harness for the
    TTL-bounded dedup boundary (``stream_dedup_ttl_boundary``)."""
    return _id_mod_batches(sf_dir, n_batches, "redeliv", redeliver=True)


def staged_triple_sides(sf_dir: str) -> tuple[str, str]:
    """Stage two TIME-SLICED streams for the triple-stateful chain
    (``stream_triple_stateful_chain``): batch k covers the k-th 5-day
    slice of the month (``least((day(ts)-1)//5, 5)``), so the watermark
    advances PROGRESSIVELY — a surviving duplicate would corrupt a
    still-open window, which the id-mod batching of the other replays
    cannot force.

    LEFT  = events per slice, where batch k (k>=1) additionally
            REDELIVERS the previous slice's ``event_id % 5 = 0`` rows —
            one batch late, well inside the dedup TTL, so the copies are
            dropped by dedup STATE (the lagged late filter cannot catch
            them: their ts exceeds it by construction).
    RIGHT = one ack per event at ``ts + 30min`` arriving in its event's
            slice, except the ``event_id % 7 = 0`` acks, delayed two
            batches (capped at the last file) — exercising the join's
            late-input filter and buffer eviction mid-replay.

    Both sides have exactly 6 mtime-ordered files (lockstep triggers)."""
    src = _events_file(sf_dir)
    ev = f"read_parquet('{src}')"
    br = f"CASE WHEN event_id % 7 = 0 THEN least({_SLICE} + 2, 5) ELSE {_SLICE} END"

    def build(stage: str) -> None:
        lefts, rights = _side_files(stage, 6)
        jobs = []
        for k in range(6):
            lw = f"{_SLICE} = {k}"
            if k >= 1:
                lw = f"({lw}) OR ({_SLICE} = {k - 1} AND event_id % 5 = 0)"
            jobs.append((
                f"SELECT event_id, ts, event_type, value FROM {ev} "
                f"WHERE {lw} ORDER BY event_id",
                lefts[k],
            ))
            jobs.append((
                f"SELECT event_id, ts + INTERVAL 30 MINUTE AS rts FROM {ev} "
                f"WHERE {br} = {k} ORDER BY event_id",
                rights[k],
            ))
        _copy_to_parquet(jobs)
        set_batch_mtimes(lefts, rights)

    stage = stage_once(src, "triple", build)
    return f"{stage}/left", f"{stage}/right"


def staged_join_sides(sf_dir: str) -> tuple[str, str]:
    """Stage two correlated streams for the stream-stream join boundary
    (``stream_join_state_boundary``): LEFT = events in 3 data files
    (batch = ``event_id % 3``; file 3 empty so both sources advance in
    lockstep), RIGHT = one ack per event at ``ts + 30min``, arriving in
    its event's batch — except the ``event_id % 5 = 0`` slice, delayed to
    the final file. Both sides share mtime ordering.

    4 files per side (was 6 until r9): each micro-batch pays fixed
    source + state-store commit costs, and the boundary semantics only
    need (a) batches before the watermark exists, (b) batches under a
    live watermark, and (c) a delayed slice arriving ≥2 batches after
    its events — all preserved with the delayed acks collapsed into one
    final file (measured at sf0.01: 1330 acks late-filter-dropped, 4
    delayed pairs surviving the boundary — the same deciding branches
    as the 6-file replay at two-thirds the replay cost)."""
    src = _events_file(sf_dir)
    ev = f"read_parquet('{src}')"

    def build(stage: str) -> None:
        lefts, rights = _side_files(stage, 4)
        jobs = []
        for k in range(4):
            lw = f"event_id % 3 = {k}" if k < 3 else "FALSE"
            jobs.append((
                f"SELECT event_id, ts, event_type FROM {ev} WHERE {lw} "
                f"ORDER BY event_id",
                lefts[k],
            ))
            rw = (
                f"event_id % 3 = {k} AND event_id % 5 <> 0"
                if k < 3
                else "event_id % 5 = 0"
            )
            jobs.append((
                f"SELECT event_id, ts + INTERVAL 30 MINUTE AS rts FROM {ev} "
                f"WHERE {rw} ORDER BY event_id",
                rights[k],
            ))
        _copy_to_parquet(jobs)
        set_batch_mtimes(lefts, rights)

    stage = stage_once(src, "join4", build)
    return f"{stage}/left", f"{stage}/right"


def _cdc_records(src: str) -> str:
    """The SCD2 audit cohort's changelog projected to the CDC record
    shape ``(user_id BIGINT, attr, ts_s BIGINT, event_id)``."""
    return (
        "SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS attr, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, "
        "CAST(event_id AS BIGINT) AS event_id "
        f"FROM read_parquet('{src}') WHERE user_id % 20 = 0"
    )


def staged_cdc_slices(sf_dir: str) -> str:
    """Stage the SCD2 audit cohort's changelog (``user_id % 20 = 0``, the
    same cohort as ``lake_scd2_build``) as 6 TIME-SLICED parquet files for
    the streaming CDC→SCD2 merge (``stream_cdc_scd2``): batch k covers the
    k-th 5-day slice of the month, so every NEW change row arrives in
    per-key timestamp order — the delivery contract a binlog-tailing CDC
    source (Debezium/DMS per-key ordering; the reference's DynamoDB-stream
    hop) actually provides, and the contract the incremental merge's
    changes-only history rebuild is exact under.

    Batch k ≥ 1 additionally REDELIVERS the previous slice's
    ``event_id % 5 = 0`` rows — exact at-least-once duplicates, a mix of
    rows that became history versions and rows the run-collapse dropped —
    so every merge batch must absorb duplicates of BOTH kinds.

    Columns are pre-projected to the CDC record shape
    ``(user_id BIGINT, attr, ts_s BIGINT, event_id)``: epoch seconds are
    computed at stage time by the same second-truncation both oracle
    dialects use, keeping the stream free of timestamp-type
    normalization."""
    src = _events_file(sf_dir)

    def build(stage: str) -> None:
        paths = [f"{stage}/f{k}.parquet" for k in range(6)]
        jobs = []
        for k, path in enumerate(paths):
            where = f"{_SLICE} = {k}"
            if k >= 1:
                where = f"({where}) OR ({_SLICE} = {k - 1} AND event_id % 5 = 0)"
            jobs.append(
                (f"{_cdc_records(src)} AND ({where}) ORDER BY event_id", path)
            )
        _copy_to_parquet(jobs)
        set_batch_mtimes(paths)

    return stage_once(src, "cdc_stage", build)


def staged_cdc_slices_ooo(sf_dir: str) -> str:
    """Stage the ``staged_cdc_slices`` changelog with the binlog promise
    deliberately BROKEN (``stream_cdc_scd2_ooo``): records with
    ``event_id % 17 = 3`` arriving in the first five time slices are
    withheld from their home slice and delivered together as a seventh
    "late replay" batch ``f6`` — the real-world failure a re-sharded
    binlog tail or a mis-merged backfill produces. Slices 0-5 stay
    per-key in-order (no redelivery mixing here; redelivery absorption
    has its own staging); f6 is entirely out of order."""
    src = _events_file(sf_dir)
    delayed = f"(event_id % 17 = 3 AND {_SLICE} <= 4)"

    def build(stage: str) -> None:
        paths = [f"{stage}/f{k}.parquet" for k in range(7)]
        jobs = [
            (
                f"{_cdc_records(src)} AND {_SLICE} = {k} AND NOT {delayed} "
                f"ORDER BY event_id",
                paths[k],
            )
            for k in range(6)
        ]
        jobs.append(
            (f"{_cdc_records(src)} AND {delayed} ORDER BY event_id", paths[6])
        )
        _copy_to_parquet(jobs)
        set_batch_mtimes(paths)

    return stage_once(src, "cdc_ooo", build)
