"""Streaming-semantics invariant tests (SURVEY §5.2) — the properties the
DuckDB oracle can't check: multi-batch state, sink layout, replay."""

from __future__ import annotations

import glob
import os

import pytest

from .conftest import SF_DIR


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def test_ingest_partitioned_lake(spark, tmp):
    """E1: hive-style dynamic+time partitioning in the lake sink, and
    partition pruning on read-back (S3 + F1)."""
    from aws_localstack_stream_processing_spark.streaming.jobs import run_ingest_stream

    lake = f"{tmp}/lake"
    run_ingest_stream(spark, SF_DIR, lake, f"{tmp}/ckpt")
    parts = glob.glob(f"{lake}/partition=*/year=*/month=*/day=*/hour=*/*.parquet")
    assert parts, "no hive-partitioned files written"
    # partition labels are the djb2 buckets
    labels = {p.split("partition=")[1].split("/")[0] for p in parts}
    assert labels <= {f"partition_{i}" for i in range(5)}
    # pruned read returns only that bucket and preserves row totals overall
    df = spark.read.parquet(lake)
    one = df.filter(df["partition"] == sorted(labels)[0])
    assert 0 < one.count() < df.count()
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert df.count() == n_events


def test_dlq_completeness(spark, tmp):
    """T3/S4: ok + error outputs exactly partition the input (invariant 5)."""
    from aws_localstack_stream_processing_spark.streaming.jobs import run_dlq_stream

    ok, err = f"{tmp}/ok", f"{tmp}/err"
    run_dlq_stream(spark, SF_DIR, ok, err, f"{tmp}/ckpt")
    n_ok = spark.read.parquet(ok).count()
    n_err = spark.read.parquet(err).count()
    n_in = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert n_ok + n_err == n_in
    assert n_err > 0  # corruption injection actually fired
    # every error row is one of the corrupted ids
    bad = spark.read.parquet(err).select("event_id").collect()
    assert all(r.event_id % 97 == 0 for r in bad)


def test_signing_stream_idempotent_replay(spark, tmp):
    """T2/T8: running the signing pipeline twice from the same checkpoint
    adds nothing (exactly-once); sink has one row per content hash."""
    from aws_localstack_stream_processing_spark.streaming.jobs import run_signing_stream

    sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"
    run_signing_stream(spark, SF_DIR, sink, ckpt)
    first = spark.read.parquet(sink).count()
    run_signing_stream(spark, SF_DIR, sink, ckpt)  # replay, same checkpoint
    again = spark.read.parquet(sink).count()
    assert first == again, "replay duplicated sink rows"
    df = spark.read.parquet(sink)
    assert df.count() == df.select("tx_hash").distinct().count()


def test_keyring_multibatch_rotation(spark):
    """O2/T7: LRU rotation persists across micro-batches — with
    maxFilesPerTrigger splitting... the single test file arrives as one
    batch, so split logically: feed two sequential availableNow runs through
    the same checkpoint and check batch ids continue."""
    from aws_localstack_stream_processing_spark.streaming.keyring import (
        _assign_batches,
    )

    # pure-logic invariant check across simulated micro-batches
    key_ids = [0, 1, 2]
    st = {"ring": [[k, i] for i, k in enumerate(key_ids)], "clock": 0, "batches": 0}
    out = []
    for _mb in range(4):  # 4 micro-batches of 250 rows, batch_size 100
        out += _assign_batches(250, st, 100)
    batch_ids = [b for b, _, _ in out]
    keys = [k for _, k, _ in out]
    sizes = [n for _, _, n in out]
    assert batch_ids == list(range(len(out)))  # global continuity
    # LRU rotation: strict round-robin given seeded ring
    assert keys == [key_ids[i % 3] for i in range(len(out))]
    # batches within a micro-batch: 100,100,50 pattern
    assert sizes[:3] == [100, 100, 50]
    # no key used twice before every key used once (LRU fairness)
    for i in range(0, len(keys) - 3, 3):
        assert sorted(keys[i : i + 3]) == key_ids


def test_multi_microbatch_stream_equals_batch(spark, tmp):
    """T1/S6: maxFilesPerTrigger drives multiple micro-batches through the
    same query; the final streamed result must equal the one-shot batch
    answer (micro-batch slicing is invisible to the aggregation)."""
    import glob

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    parts_dir = f"{tmp}/parts"
    src.repartition(6).write.parquet(parts_dir)
    n_files = len(glob.glob(f"{parts_dir}/part-*.parquet"))
    assert n_files >= 6

    schema = spark.read.parquet(parts_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(parts_dir)
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("mb_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(q.recentProgress)
    streamed = {
        r.event_type: (r.n, r.s) for r in spark.table("mb_agg").collect()
    }
    batch = {
        r.event_type: (r.n, r.s)
        for r in src.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    assert n_batches >= 6, f"expected one micro-batch per file, got {n_batches}"
    assert streamed == batch


def test_watermark_drops_late_rows(spark, tmp):
    """T5: event-time watermark discards rows arriving after the watermark
    has passed their window (the late-data policy the reference lacks,
    SURVEY §2.6 T5). Run 1 advances the watermark past the stale window and
    persists it in the checkpoint; run 2 delivers stale rows (dropped: their
    window already closed) plus fresh rows that close the on-time window —
    so the sink holds exactly the on-time window."""
    import os

    from pyspark.sql import functions as F

    src_dir = f"{tmp}/wm_src"
    os.makedirs(src_dir)

    def write(name, ts, ids):
        spark.createDataFrame(
            [(i, ts) for i in ids], ["id", "ts_s"]
        ).select("id", F.to_timestamp("ts_s").alias("ts")).coalesce(1).write.parquet(
            f"{src_dir}/{name}"
        )

    def run():
        schema = "id bigint, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/*")
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", f"{tmp}/wm_out")
            .option("checkpointLocation", f"{tmp}/wm_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write("b1", "2024-01-01 12:00:00", range(10))   # on time
    run()  # watermark -> 11:00, persisted in the checkpoint
    write("b2", "2024-01-01 06:00:00", range(100, 105))  # stale: window closed
    write("b3", "2024-01-01 14:30:00", range(200, 207))  # watermark 13:30 > 13:00 closes the 12:00 window
    run()
    sink = spark.read.schema("ws timestamp, n bigint").parquet(f"{tmp}/wm_out")
    rows = {str(r.ws): r.n for r in sink.collect()}
    assert rows.get("2024-01-01 12:00:00") == 10, rows
    assert not any("06:00" in k for k in rows), rows  # late rows dropped


def test_chunked_file_sink(spark, tmp):
    """S9/A5 physical layout: maxRecordsPerFile caps every output file at
    the chunk size (seed-keys.ts:68-81's 1000-per-file contract)."""
    import glob

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = f"{tmp}/chunks"
    chunk = 100
    src.repartition(2).write.option("maxRecordsPerFile", chunk).parquet(out)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) > 2  # the cap actually split files
    total = 0
    for f in files:
        n = spark.read.parquet(f).count()
        assert n <= chunk, f
        total += n
    assert total == src.count()


def test_rate_source_processing_time_trigger(spark):
    """T1: the rate source with a processingTime trigger — a continuously
    running micro-batch query (not availableNow) producing rows."""
    import time

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .withColumn("bucket", F.pmod("value", F.lit(5)))
        .groupBy("bucket")
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("complete")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        total = 0
        while time.time() < deadline:
            rows = spark.table("rate_sink").collect()
            total = sum(r["count"] for r in rows)
            if total >= 20 and len(rows) == 5:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert total >= 20


def test_mv_stream_replay_idempotent(spark, tmp):
    """Replaying the whole stream with a fresh checkpoint (worst-case
    redelivery: every batch re-fires) must leave the folded MV unchanged —
    partials are keyed and overwritten by batch_id, never re-merged."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.session import apply_runtime_confs
    from aws_localstack_stream_processing_spark.streaming.mv import read_mv, run_mv_stream

    apply_runtime_confs(spark)
    src = f"{tmp}/src"
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def stream():
        s = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if dict(ev.dtypes)["ts"] == "bigint":
            s = s.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return s

    run_mv_stream(spark, stream(), f"{tmp}/mv", f"{tmp}/ckpt1")
    first = {(r.event_type): (r.sum_value, r.n_events) for r in read_mv(spark, f"{tmp}/mv").collect()}
    # fresh checkpoint -> all batches replay against the same MV directory
    run_mv_stream(spark, stream(), f"{tmp}/mv", f"{tmp}/ckpt2")
    second = {(r.event_type): (r.sum_value, r.n_events) for r in read_mv(spark, f"{tmp}/mv").collect()}
    assert first == second


def test_late_drop_query_semantics(spark):
    """The oracle-checked late-drop query must show REAL drops: emitted
    windows carry strictly fewer rows than the batch table holds for
    those days (batch-2 arrivals for evicted windows are dropped), and
    tail windows past the final watermark never emit."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.plans import all_queries

    rows = (
        all_queries()["stream_watermark_late_drop"].fn(spark, SF_DIR).collect()
    )
    assert rows
    emitted = {r.day: r.n_events for r in rows}
    batch = {
        r.day: r.n
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every emitted window exists in the batch view and lost late rows
    assert sum(emitted.values()) < sum(batch[d] for d in emitted)
    assert all(emitted[d] <= batch[d] for d in emitted)
    assert any(emitted[d] < batch[d] for d in emitted)
    # tail windows (inside the 7-day delay of the max event time) not emitted
    assert len(emitted) < len(batch)


def test_dedup_ttl_boundary_semantics(spark):
    """TTL-bounded dedup: early batches (0,1 — before the lagged filter
    has a watermark) emit fully, later batches lose their too-late rows,
    and the days-late redelivered duplicates never re-emit (emitted
    count stays <= the distinct id count)."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.plans import all_queries

    rows = (
        all_queries()["stream_dedup_ttl_boundary"].fn(spark, SF_DIR).collect()
    )
    assert rows
    n_emitted = sum(r.n_emitted for r in rows)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_total = ev.count()
    n_early = ev.filter(F.col("event_id") % 6 <= 1).count()
    # drops happened (TTL price) but never below the fully-kept early batches
    assert n_early <= n_emitted < n_total


def test_join_boundary_semantics(spark):
    """The stream-stream join boundary: on-time acks (batches 0-1) all
    match; total matches fall short of total acks because the watermark
    evicted the delayed acks' buffer entries."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.plans import all_queries

    rows = (
        all_queries()["stream_join_state_boundary"].fn(spark, SF_DIR).collect()
    )
    assert rows
    n_matched = sum(r.n_matched for r in rows)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_acks = ev.count()  # one ack exists per event
    n_early_ontime = ev.filter(
        (F.col("event_id") % 3 <= 1) & (F.col("event_id") % 5 != 0)
    ).count()
    assert n_early_ontime <= n_matched < n_acks


def test_stage_once_lifecycle(tmp_path):
    """The staged-input lifecycle every delivery plan shares: a committed
    stage is reused without rebuilding, a failed build leaves nothing a
    later build can see, and a rewritten source file stages anew."""
    import shutil
    import uuid

    from aws_localstack_stream_processing_spark.streaming.source import (
        stage_once,
    )

    src = tmp_path / "events.parquet"
    src.write_text("v1")
    name = f"lifecycle_{uuid.uuid4().hex[:8]}"
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "f0"), "w") as f:
            f.write("x")

    def failing(d):
        with open(os.path.join(d, "leftover"), "w") as f:
            f.write("x")
        raise RuntimeError("build died")

    made = []
    try:
        with pytest.raises(RuntimeError):
            stage_once(str(src), name, failing)
        first = stage_once(str(src), name, build)
        made.append(first)
        # the retry started from an empty directory
        assert sorted(os.listdir(first)) == ["_STAGED", "f0"]
        assert stage_once(str(src), name, build) == first
        assert calls == [first]  # the second call did not rebuild

        src.write_text("v2, longer")  # new size and mtime
        second = stage_once(str(src), name, build)
        made.append(second)
        assert second != first and calls == [first, second]
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
