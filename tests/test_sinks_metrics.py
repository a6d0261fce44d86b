"""Keyed-sink convergence (put-if-absent without checkpoint help) and the
StreamingQueryListener metrics pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR

# A store keyed on one column, and one keyed on a composite whose bucket
# key is a strict, non-unique subset of it (the band-index shape).
SHAPES = ["single", "composite"]


@pytest.mark.parametrize("shape", SHAPES)
def test_keyed_sink_converges_without_checkpoint(spark, tmp_path, shape):
    """Re-delivering overlapping batches — with NO shared checkpoint —
    leaves exactly one row per key (DynamoDB-put convergence, S8/T2)."""
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    keyed = ev.select(
        F.sha2(F.concat_ws("|", "event_id", "event_type"), 256).alias("k"),
        "event_id",
        "event_type",
        "value",
    )
    path = str(tmp_path / "kv")
    if shape == "single":
        sink = KeyedParquetSink(path, "k")
    else:
        sink = KeyedParquetSink(
            path, ["event_type", "event_id"], bucket_cols=["event_type"]
        )
    first_half = keyed.filter(F.col("event_id") % 2 == 0)
    overlap = keyed.filter(F.col("event_id") % 3 == 0)  # overlaps both halves
    sink.upsert_batch(first_half, 0)
    sink.upsert_batch(overlap, 1)
    sink.upsert_batch(keyed, 2)  # full redelivery
    sink.upsert_batch(keyed, 3)  # and again
    out = sink.read(spark)
    assert out.count() == keyed.count()
    assert out.select(sink.key).distinct().count() == keyed.count()
    if shape == "single":
        # stores written before composite keys existed stay readable:
        # every key sits in pmod(xxhash64(key), 16), computed here
        # without the sink
        placed = spark.read.parquet(path)
        assert placed.count() == keyed.count()
        assert placed.filter("__bucket <> pmod(xxhash64(k), 16)").count() == 0
    else:
        # fetch matches on the bucket key: one row's event_type returns
        # every stored row of that type
        of_t = keyed.filter(F.col("event_type") == keyed.first().event_type)
        assert sink.fetch(spark, of_t.limit(1)).count() == of_t.count()


def test_streaming_metrics_listener(spark):
    """Per-batch telemetry lands in the metrics table and the reference's
    minute-rollup shape applies to it."""
    from aws_localstack_stream_processing_spark.streaming.metrics import (
        MetricsListener,
        metrics_df,
    )
    from aws_localstack_stream_processing_spark.streaming.source import events_stream

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            events_stream(spark, SF_DIR)
            .groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is asynchronous; give the bus a moment
        import time

        for _ in range(20):
            if listener.rows:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    assert listener.rows, "no progress events captured"
    mdf = metrics_df(spark, listener)
    total_rows = mdf.agg(F.sum("num_input_rows")).collect()[0][0]
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert total_rows == n_events
    # the reference's A1 rollup shape applies directly to engine telemetry
    rollup = mdf.groupBy("query_id").agg(
        F.sum("num_input_rows").alias("rows"),
        F.avg("process_ms").alias("avg_ms"),
    )
    assert rollup.count() >= 1


def test_keyed_sink_never_broadcasts_the_store(spark, tmp_path):
    """r10 plan audit: the put-if-absent anti-join must broadcast only
    batch-sized key sets — a plan that broadcasts the STORE's key column
    (the naive LeftAnti BuildRight) grows its broadcast without bound as
    the sink fills. Pin: every BroadcastExchange in the upsert plan is
    fed by the batch/hits side, never by the store's parquet scan."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    seed = spark.range(2000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    sink.upsert_batch(seed, 0)

    # rebuild the exact upsert plan for a second batch and inspect it
    batch = spark.range(1990, 2100).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    fresh = batch.dropDuplicates(["key"])
    seen = spark.read.parquet(sink.path).select("key")
    new = KeyedParquetSink.probe_plan(seen, fresh, "key")
    new.collect()
    plan = new._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    import re

    depth = [re.match(r"^[\s:+\-]*", ln).end() for ln in lines]
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        # the broadcast subtree must not contain the store scan
        j = i + 1
        subtree = []
        while j < len(lines) and depth[j] > depth[i]:
            subtree.append(lines[j])
            j += 1
        scan_lines = [
            s for s in subtree if "FileScan parquet" in s or "Scan parquet" in s
        ]
        # the semi-probe broadcast carries only the batch keys (built
        # from spark.range, no parquet scan); the anti broadcast carries
        # `hits`, whose lineage includes the store scan BUT only after
        # the semi join bounded it to batch size — so a store scan may
        # appear under a broadcast ONLY together with that semi join
        if scan_lines:
            assert any("LeftSemi" in s for s in subtree), (
                "store scan broadcast without a batch-key semi bound:\n"
                + "\n".join(subtree[:10])
            )
    # and the store itself is never the BUILD side of the final anti join
    anti = [ln for ln in lines if "LeftAnti" in ln]
    assert anti, plan
    # convergence semantics unchanged: replay the same batch, count stable
    sink.upsert_batch(batch, 1)
    n1 = sink.read(spark).count()
    sink.upsert_batch(batch, 1)
    assert sink.read(spark).count() == n1 == 2100


def test_keyed_sink_probe_prunes_to_affected_buckets(spark, tmp_path):
    """r10 layout lever: the store is hash-bucketed by key, so a batch
    that touches k buckets must probe ONLY those k hive partitions — the
    probe's store scan carries a __bucket partition filter and its input
    files stay inside the affected bucket directories. Without pruning
    the per-batch probe is a full store scan, which at 100 TB is the
    sink's entire cost."""
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    seed = spark.range(4000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    sink.upsert_batch(seed, 0)
    store = spark.read.parquet(sink.path)
    all_buckets = {
        r[0] for r in store.select(sink.BUCKET_COL).distinct().collect()
    }
    assert len(all_buckets) == sink.N_BUCKETS  # 4000 keys fill all 16

    # a 3-key batch touches ≤3 buckets; rebuild the sink's pruned probe
    batch = spark.range(3).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("v").alias("payload"),
    )
    fresh = batch.dropDuplicates(["key"]).withColumn(
        sink.BUCKET_COL, sink._bucket_expr()
    )
    buckets = [r[0] for r in fresh.select(sink.BUCKET_COL).distinct().collect()]
    assert 1 <= len(buckets) <= 3
    seen = (
        spark.read.parquet(sink.path)
        .filter(F.col(sink.BUCKET_COL).isin(buckets))
        .select("key")
    )
    probe = KeyedParquetSink.probe_plan(seen, fresh, "key")
    probe.collect()
    # partition pruning is visible in BOTH the plan and the scan metric:
    # the store scan's PartitionFilters carry the __bucket IN (...) and
    # numFiles counts only the affected buckets' files
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{sink.BUCKET_COL}" in plan, plan
    import glob
    import os

    files_in = lambda pat: len(  # noqa: E731
        glob.glob(os.path.join(sink.path, pat, "*.parquet"))
    )
    total_files = files_in(f"{sink.BUCKET_COL}=*")
    affected_files = sum(
        files_in(f"{sink.BUCKET_COL}={b}") for b in buckets
    )
    # walk the AQE-final tree (planfp's rules) to reach the real scans
    stack = [probe._jdf.queryExecution().executedPlan()]
    scanned = []
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            scanned.append(int(node.metrics().apply("numFiles").value()))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    assert affected_files in scanned, (scanned, affected_files, total_files)
    assert all(s < total_files for s in scanned)
    # and the pruned probe still answers correctly: all 3 keys are dups
    assert probe.count() == 0
    # a genuinely new key in an already-probed bucket still lands
    sink.upsert_batch(
        spark.range(4000, 4001).select(
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("v").alias("payload"),
        ),
        1,
    )
    assert sink.read(spark).count() == 4001


def test_keyed_sink_bucket_compaction(spark, tmp_path):
    """Append-only bucketed stores accrue one file per (batch, bucket);
    compact() must rewrite ONLY the over-threshold buckets down to one
    file each, leave other buckets' files untouched, and preserve both
    the read view and the put-if-absent contract."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    # 12 batches x ~200 keys: every bucket collects ~12 small files
    for b in range(12):
        sink.upsert_batch(
            spark.range(b * 200, (b + 1) * 200).select(
                F.sha2(F.col("id").cast("string"), 256).alias("key"),
                F.lit(f"v{b}").alias("payload"),
            ),
            b,
        )
    files = lambda b: sorted(  # noqa: E731
        glob.glob(os.path.join(sink.path, f"{sink.BUCKET_COL}={b}", "*.parquet"))
    )
    before_view = sorted(
        (r.key, r.payload) for r in sink.read(spark).collect()
    )
    assert len(before_view) == 2400
    pre_counts = {b: len(files(b)) for b in range(sink.N_BUCKETS)}
    assert max(pre_counts.values()) > 8  # small-files problem is real

    compacted = sink.compact(spark, max_files_per_bucket=8)
    assert compacted  # something was over threshold
    untouched = [b for b in range(sink.N_BUCKETS) if b not in compacted]
    for b in compacted:
        assert len(files(b)) == 1, f"bucket {b} not compacted"
    for b in untouched:
        assert len(files(b)) == pre_counts[b], f"bucket {b} was rewritten"
    # the read view is byte-identical
    after_view = sorted(
        (r.key, r.payload) for r in sink.read(spark).collect()
    )
    assert after_view == before_view
    # and the put-if-absent contract still holds over the compacted store
    sink.upsert_batch(
        spark.range(0, 300).select(  # 200 dups + 100 new (2400..2499 absent)
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("vX").alias("payload"),
        ),
        99,
    )
    assert sink.read(spark).count() == 2400  # all 300 were dups of batch 0+1
    sink.upsert_batch(
        spark.range(2400, 2500).select(
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit("vN").alias("payload"),
        ),
        100,
    )
    assert sink.read(spark).count() == 2500


# -- round 11: compaction concurrency guard, legacy migration, resplit ------


def test_compact_aborts_on_concurrent_append(spark, tmp_path):
    """ADVICE r10 (medium): dynamic partition overwrite would silently
    delete rows appended to a todo bucket between the read and the swap.
    compact() must re-list each todo bucket after materializing the
    rewrite and ABORT on any change — nothing written, the concurrently
    appended rows intact."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "key")
    for b in range(10):
        sink.upsert_batch(
            spark.range(b * 100, (b + 1) * 100).select(
                F.sha2(F.col("id").cast("string"), 256).alias("key"),
                F.lit(f"v{b}").alias("payload"),
            ),
            b,
        )
    racer = spark.range(5000, 5050).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("raced").alias("payload"),
    )

    def _concurrent_append():
        sink._compact_pre_swap = None  # the racer's upsert must not recurse
        sink.upsert_batch(racer, 999)

    sink._compact_pre_swap = _concurrent_append
    n_before = 1000
    with pytest.raises(RuntimeError, match="changed during the rewrite"):
        sink.compact(spark, max_files_per_bucket=8)
    # nothing lost: original rows AND the raced batch both readable
    assert sink.read(spark).count() == n_before + 50
    assert sink.read(spark).filter("payload = 'raced'").count() == 50
    # with the stream quiet, the same compaction succeeds
    compacted = sink.compact(spark, max_files_per_bucket=8)
    assert compacted
    for b in compacted:
        assert (
            len(glob.glob(os.path.join(
                sink.path, f"{sink.BUCKET_COL}={b}", "*.parquet"
            ))) == 1
        )
    assert sink.read(spark).count() == n_before + 50


def test_legacy_flat_store_fails_loudly_then_migrates(spark, tmp_path):
    """ADVICE r10: a store written by the pre-bucketing flat layout must
    not silently read as absent (probe skipped → duplicate keys). The
    sink fails loudly, and migrate_legacy() converts it one-shot — after
    which upserts probe correctly against the migrated keys."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    path = str(tmp_path / "kv")
    legacy = spark.range(500).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("old").alias("payload"),
    )
    legacy.write.mode("overwrite").parquet(path)  # flat layout
    sink = KeyedParquetSink(path, "key")
    batch = spark.range(400, 600).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"),
        F.lit("new").alias("payload"),
    )
    with pytest.raises(RuntimeError, match="legacy flat-layout"):
        sink.upsert_batch(batch, 0)
    n = sink.migrate_legacy(spark)
    assert n > 0
    assert not glob.glob(os.path.join(path, "*.parquet"))  # flat files gone
    assert sink.exists(spark)
    # 400-499 are dups of migrated keys: put-if-absent sees them
    sink.upsert_batch(batch, 0)
    out = sink.read(spark)
    assert out.count() == 600
    assert out.filter("payload = 'old'").count() == 500
    # second migrate is a no-op
    assert sink.migrate_legacy(spark) == 0


@pytest.mark.parametrize("shape", SHAPES)
def test_keyed_sink_resplit_doubles_buckets(spark, tmp_path, shape):
    """VERDICT r10 #6 done-criterion: store built at 16 buckets, resplit
    to 32 — redelivery still converges (put-if-absent preserved), probes
    prune to the NEW bucket layout, and a fresh sink instance adopts the
    on-disk count from the meta sidecar."""
    import glob
    import os

    from pyspark.sql import functions as F

    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    def open_sink(path):
        if shape == "single":
            return KeyedParquetSink(path, "key")
        return KeyedParquetSink(path, ["grp", "key"], bucket_cols=["grp"])

    def rows(lo, hi, payload):
        return spark.range(lo, hi).select(
            (F.col("id") % 500).alias("grp"),  # 8 keys per bucket key
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
            F.lit(payload).alias("payload"),
        )

    sink = open_sink(str(tmp_path / "kv"))
    seed = rows(0, 4000, "v")
    sink.upsert_batch(seed, 0)
    assert sink.n_buckets == 16
    sink.resplit(spark, 32)
    assert sink.n_buckets == 32
    dirs = {
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(sink.path, f"{sink.BUCKET_COL}=*"))
    }
    assert max(dirs) >= 16 and len(dirs) == 32  # 4000 keys fill all 32
    assert sink.read(spark).count() == 4000
    # redelivery convergence over the resplit store
    sink.upsert_batch(seed, 1)
    assert sink.read(spark).count() == 4000
    # a fresh instance (constructed with the DEFAULT count) adopts 32
    # from the meta sidecar and probes the right buckets
    sink2 = open_sink(sink.path)
    batch = rows(3990, 4010, "v2")  # 10 dups + 10 new
    sink2.upsert_batch(batch, 2)
    assert sink2.n_buckets == 32
    assert sink2.read(spark).count() == 4010
    # and the pruned probe still reads only affected buckets
    fresh = batch.dropDuplicates(sink2.key).withColumn(
        sink2.BUCKET_COL, sink2._bucket_expr()
    )
    buckets = [
        r[0] for r in fresh.select(sink2.BUCKET_COL).distinct().collect()
    ]
    seen = (
        spark.read.parquet(sink2.path)
        .filter(F.col(sink2.BUCKET_COL).isin(buckets))
        .select(sink2.key)
    )
    probe = KeyedParquetSink.probe_plan(seen, fresh, sink2.key)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [{sink2.BUCKET_COL}" in plan, plan
    assert probe.count() == 0  # every key already present


def test_store_schema_cache_survives_batches_and_resets_on_resplit(
    spark, tmp_path
):
    """r13 (OPTIMIZATION_r13.md): the sink caches the store schema after
    the first read so later per-batch probes skip Spark's
    schema-inference job. The cached-schema read must return the same
    rows as a fresh inferred read, stay correct across further upserts,
    and reset through resplit (the one rewrite that mutates layout
    state)."""
    from aws_localstack_stream_processing_spark.streaming.sinks import (
        KeyedParquetSink,
    )

    sink = KeyedParquetSink(str(tmp_path / "kv"), "k", n_buckets=4)
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink.upsert_batch(b0, 0)
    assert sink._store_schema is None  # first write probes nothing
    rows0 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert sink._store_schema is not None  # populated by the read
    # second batch: probe path runs entirely on the cached schema
    b1 = spark.createDataFrame([("b", 9), ("c", 3)], "k string, v int")
    sink.upsert_batch(b1, 1)
    rows1 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert rows1 == [("a", 1), ("b", 2), ("c", 3)]  # put-if-absent kept b=2
    assert rows0 == [("a", 1), ("b", 2)]
    # resplit rewrites the store and resets the cache; rows unchanged
    sink.resplit(spark, 8)
    assert sink._store_schema is None
    rows2 = sorted(tuple(r) for r in sink.read(spark).collect())
    assert rows2 == rows1
