"""Idempotence pins for the streaming CDC→SCD2 merge (VERDICT r9 #4).

The oracle already proves one clean run equals the batch recompute; these
tests pin the fault-tolerance matrix: a replayed micro-batch is a no-op,
a full at-least-once replay over an already-populated history table
(checkpoint lost entirely — strictly worse than any real restart) still
converges to the same table, and a checkpointed RESUME merges only the
new slices with batch numbering continued.
"""

from __future__ import annotations

import tempfile

import pytest

from aws_localstack_stream_processing_spark.plans import all_queries
from aws_localstack_stream_processing_spark.streaming.sinks import (
    Scd2ParquetSink,
)
from aws_localstack_stream_processing_spark.streaming.source import (
    staged_cdc_slices,
)

from .conftest import SF_DIR, normalize


def _history_rows(spark, sink: Scd2ParquetSink):
    df = sink.read(spark).select(
        "user_id", "attr", "version_n", "valid_from_s", "valid_to_s",
        "is_current",
    )
    return normalize([tuple(r) for r in df.collect()], df.columns)[1]


def _slice(spark, src: str, k: int):
    return spark.read.parquet(f"{src}/f{k}.parquet")


def test_replayed_batch_is_noop(spark):
    """Exactly-once under redelivery: merging the SAME micro-batch twice
    (the restart-after-commit-before-checkpoint window) leaves the
    history table byte-identical — the merge is a deterministic function
    of (history ∪ batch) and exact duplicates dedup away."""
    src = staged_cdc_slices(SF_DIR)
    sink = Scd2ParquetSink(tempfile.mkdtemp(prefix="slsp_scd2_noop_") + "/h")
    sink.merge_batch(_slice(spark, src, 0), 0)
    sink.merge_batch(_slice(spark, src, 1), 1)
    after_two = _history_rows(spark, sink)
    sink.merge_batch(_slice(spark, src, 1), 1)  # redelivered batch
    assert _history_rows(spark, sink) == after_two
    sink.merge_batch(_slice(spark, src, 0), 0)  # even out-of-order replay
    assert _history_rows(spark, sink) == after_two


def test_full_replay_converges(spark):
    """Checkpoint lost entirely after partial progress: merge 3 slices,
    then replay ALL 6 from scratch over the populated table — the final
    history equals a clean end-to-end run's (and hence the batch
    recompute the oracle pins). This is convergence under at-least-once
    delivery without ANY checkpoint help, the KeyedParquetSink discipline
    extended to history."""
    src = staged_cdc_slices(SF_DIR)
    sink = Scd2ParquetSink(tempfile.mkdtemp(prefix="slsp_scd2_replay_") + "/h")
    for k in range(3):  # partial progress, checkpoint then "lost"
        sink.merge_batch(_slice(spark, src, k), k)
    for k in range(6):  # full replay, batches 0-2 now pure redelivery
        sink.merge_batch(_slice(spark, src, k), 100 + k)
    replayed = _history_rows(spark, sink)

    clean = all_queries()["stream_cdc_scd2"].fn(spark, SF_DIR)
    clean_rows = normalize(
        [tuple(r) for r in clean.collect()], clean.columns
    )[1]
    assert replayed == clean_rows and len(replayed) > 0


def test_merge_touches_only_affected_buckets(spark):
    """The MERGE's scale claim: a batch whose users map to a strict
    subset of buckets must leave every other bucket's files untouched
    (dynamic partition overwrite = partition-pruned copy-on-write).
    Synthetic changelog so users span every bucket regardless of SF
    (the staged cohort's user_ids are multiples of 20 and land in only
    two of the eight buckets)."""
    import glob
    import os

    schema = "user_id BIGINT, attr STRING, ts_s BIGINT, event_id BIGINT"
    n_b = Scd2ParquetSink.N_BUCKETS
    seed = spark.createDataFrame(
        [(u, "signup", 1000 + u, u) for u in range(1, 2 * n_b + 1)], schema
    )
    sink = Scd2ParquetSink(tempfile.mkdtemp(prefix="slsp_scd2_bkt_") + "/h")
    sink.merge_batch(seed, 0)
    before = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=*", "*.parquet"))
    }
    assert len({p.split("bucket=")[1].split(os.sep)[0] for p in before}) == n_b
    touched_bucket = 3 % n_b
    sink.merge_batch(
        spark.createDataFrame([(3, "error", 2000, 999)], schema), 1
    )
    after = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=*", "*.parquet"))
    }
    untouched = {
        p: t
        for p, t in before.items()
        if f"bucket={touched_bucket}" + os.sep not in p
    }
    assert untouched and all(after.get(p) == t for p, t in untouched.items())
    # and the touched bucket gained user 3's second version
    rows = sink.read(spark).filter("user_id = 3").orderBy("version_n")
    assert [(r.attr, bool(r.is_current)) for r in rows.collect()] == [
        ("signup", False),
        ("error", True),
    ]


def test_checkpoint_resume_continues_exactly_once(spark):
    """The third cell of the fault matrix (replayed batch, lost
    checkpoint, and now RESUME): a stream stopped after 3 of 6 slices
    and restarted with the SAME checkpoint must merge only the new
    slices — batch ids continue where the checkpoint left off, no slice
    is re-delivered to the sink — and the final history equals the
    clean run's."""
    import os
    import shutil

    from aws_localstack_stream_processing_spark.streaming.statestore import (
        apply_state_store,
    )

    src = staged_cdc_slices(SF_DIR)
    work = tempfile.mkdtemp(prefix="slsp_scd2_resume_")
    part_src = os.path.join(work, "src")
    os.makedirs(part_src)
    ckpt = os.path.join(work, "ckpt")

    class RecordingSink(Scd2ParquetSink):
        def __init__(self, path):
            super().__init__(path)
            self.batch_ids = []

        def merge_batch(self, batch_df, batch_id):
            self.batch_ids.append(batch_id)
            super().merge_batch(batch_df, batch_id)

    sink = RecordingSink(os.path.join(work, "history"))
    schema = spark.read.parquet(f"{src}/f0.parquet").schema

    def run_stream():
        apply_state_store(spark)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(part_src)
            .writeStream.foreachBatch(sink.merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for k in range(3):
        p = os.path.join(part_src, f"f{k}.parquet")
        shutil.copy2(f"{src}/f{k}.parquet", p)  # copy2 keeps mtime order
    run_stream()
    first = list(sink.batch_ids)
    assert first == [0, 1, 2]
    for k in range(3, 6):
        shutil.copy2(f"{src}/f{k}.parquet", os.path.join(part_src, f"f{k}.parquet"))
    run_stream()
    resumed = sink.batch_ids[len(first):]
    # checkpoint-driven resume: ONLY the new slices, numbered onward
    assert resumed == [3, 4, 5], (first, resumed)

    clean = all_queries()["stream_cdc_scd2"].fn(spark, SF_DIR)
    clean_rows = normalize(
        [tuple(r) for r in clean.collect()], clean.columns
    )[1]
    assert _history_rows(spark, sink) == clean_rows


def test_merge_plan_single_user_exchange(spark):
    """The MERGE plan's scale shape, lint-style (the registry lint never
    sees foreachBatch jobs): dedup, run-collapse, and reversioning must
    all ride ONE user_id hash exchange — no global (unpartitioned)
    window, no extra shuffle between the window passes."""
    schema = "user_id BIGINT, attr STRING, ts_s BIGINT, event_id BIGINT"
    from pyspark.sql import functions as F

    cand = (
        spark.createDataFrame(
            [(u, "signup", 1000 + u, u) for u in range(1, 9)], schema
        ).withColumn(
            "bucket",
            F.pmod("user_id", F.lit(Scd2ParquetSink.N_BUCKETS)).cast("int"),
        )
    )
    plan = (
        Scd2ParquetSink.merge_plan(cand)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one exchange, and it hash-partitions on user_id
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan
    assert "user_id" in exchanges[0]
    assert "SinglePartition" not in plan
    # no window runs without a PARTITION BY (the single-partition trap)
    for ln in plan.splitlines():
        stripped = ln.strip(" :+-*(0123456789)")
        if stripped.startswith("Window "):
            assert "user_id" in ln, f"unpartitioned window: {ln}"


# -- round 11: out-of-order detection (VERDICT r10 #1) -----------------------

_SCHEMA = "user_id BIGINT, attr STRING, ts_s BIGINT, event_id BIGINT"


def _user_rows(spark, sink, uid):
    df = sink.read(spark).filter(f"user_id = {uid}").orderBy("version_n")
    return [
        (r.attr, r.valid_from_s, r.valid_to_s, bool(r.is_current))
        for r in df.collect()
    ]


def test_out_of_order_record_quarantined(spark, tmp_path):
    """A genuinely novel record OLDER than its key's merged head must not
    silently corrupt the changes-only history: it lands in the quarantine
    table, the key is flagged for rebuild, the rest of the batch merges
    normally, and the violator's bucket files stay byte-identical."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    sink.merge_batch(
        spark.createDataFrame(
            [(1, "signup", 1000, 1), (1, "error", 2000, 2),
             (2, "signup", 1100, 3)],
            _SCHEMA,
        ),
        0,
    )
    before_u1 = _user_rows(spark, sink, 1)
    u1_files = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=1", "*.parquet"))
    }
    # user 1: novel value at ts BETWEEN merged versions (out_of_order) and
    # one BEFORE its first version (pre_history); user 2: a normal record
    sink.merge_batch(
        spark.createDataFrame(
            [(1, "pro", 1500, 77), (1, "signup", 500, 88),
             (2, "error", 3000, 4)],
            _SCHEMA,
        ),
        1,
    )
    # user 1's history unchanged — its bucket was never rewritten
    assert _user_rows(spark, sink, 1) == before_u1
    assert {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=1", "*.parquet"))
    } == u1_files
    # user 2 merged normally
    u2 = sink.read(spark).filter("user_id = 2").orderBy("version_n")
    assert [(r.attr, bool(r.is_current)) for r in u2.collect()] == [
        ("signup", False),
        ("error", True),
    ]
    q = spark.read.parquet(sink.quarantine_path)
    got = sorted(
        (r.user_id, r.ts_s, r.event_id, r.reason) for r in q.collect()
    )
    assert got == [(1, 500, 88, "pre_history"), (1, 1500, 77, "out_of_order")]
    assert [r.user_id for r in sink.needs_rebuild(spark).collect()] == [1]


def test_redelivered_duplicates_never_quarantined(spark, tmp_path):
    """The guard's precision half: at-least-once redelivery — exact copies
    of RETAINED openings and of records the run-collapse DROPPED — arrives
    older than head but is a merge no-op, so it must pass the guard
    silently (a head-only comparison would false-positive here)."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    sink.merge_batch(
        spark.createDataFrame(
            # signup@1500 collapses into the signup@1000 run
            [(1, "signup", 1000, 1), (1, "signup", 1500, 2),
             (1, "error", 2000, 3)],
            _SCHEMA,
        ),
        0,
    )
    before = _history_rows(spark, sink)
    # redeliver the collapsed record, a retained opening, and the head
    for k, rec in enumerate(
        [(1, "signup", 1500, 2), (1, "signup", 1000, 1), (1, "error", 2000, 3)]
    ):
        sink.merge_batch(spark.createDataFrame([rec], _SCHEMA), k + 1)
    assert _history_rows(spark, sink) == before
    assert not glob.glob(os.path.join(sink.quarantine_path, "batch_id=*"))
    assert sink.needs_rebuild(spark).count() == 0


def test_rebuild_from_changelog_clears_flag(spark, tmp_path):
    """needs_rebuild → rebuild_keys(full changelog) restores the exact
    history the quarantined record belongs to, clears the flag, leaves
    co-bucketed unflagged users untouched — and a replay of the offending
    batch afterwards re-adjudicates the record as a safe duplicate."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    changelog = [
        (1, "signup", 1000, 1), (1, "pro", 1500, 77), (1, "error", 2000, 2),
        # user 9 shares bucket 1 with user 1 (9 % 8 == 1)
        (9, "signup", 1100, 3), (9, "error", 2100, 4),
    ]
    in_order = [r for r in changelog if r[3] != 77]
    sink.merge_batch(spark.createDataFrame(in_order, _SCHEMA), 0)
    late = spark.createDataFrame([(1, "pro", 1500, 77)], _SCHEMA)
    sink.merge_batch(late, 1)  # quarantined
    assert [r.user_id for r in sink.needs_rebuild(spark).collect()] == [1]
    u9_before = _user_rows(spark, sink, 9)

    n = sink.rebuild_keys(
        spark, spark.createDataFrame(changelog, _SCHEMA)
    )
    assert n == 1
    assert sink.needs_rebuild(spark).count() == 0
    assert not glob.glob(os.path.join(sink.quarantine_path, "batch_id=*"))
    u1 = sink.read(spark).filter("user_id = 1").orderBy("version_n")
    assert [
        (r.attr, r.valid_from_s, r.valid_to_s, bool(r.is_current))
        for r in u1.collect()
    ] == [
        ("signup", 1000, 1500, False),
        ("pro", 1500, 2000, False),
        ("error", 2000, None, True),
    ]
    # co-bucketed unflagged user untouched
    assert _user_rows(spark, sink, 9) == u9_before
    # self-healing: the quarantined batch replayed post-rebuild is a no-op
    fixed = _history_rows(spark, sink)
    sink.merge_batch(late, 1)
    assert _history_rows(spark, sink) == fixed
    assert sink.needs_rebuild(spark).count() == 0


def test_scd2_resplit_preserves_history_and_merge(spark, tmp_path):
    """Bucket-count evolution (VERDICT r10 #6): resplit 8→16 preserves the
    history byte-for-byte (modulo bucket routing), the meta sidecar makes
    a FRESH sink instance adopt the new count, and subsequent merges land
    in the right (new) buckets."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    sink.merge_batch(
        spark.createDataFrame(
            [(u, "signup", 1000 + u, u) for u in range(1, 25)], _SCHEMA
        ),
        0,
    )
    before = _history_rows(spark, sink)
    sink.resplit(spark, 16)
    assert sink.n_buckets == 16
    assert _history_rows(spark, sink) == before
    got_buckets = {
        int(p.rsplit("bucket=", 1)[1])
        for p in glob.glob(os.path.join(sink.path, "bucket=*"))
    }
    assert max(got_buckets) >= 8  # users 9..24 re-routed past the old max
    # a fresh instance adopts the on-disk count and merges correctly
    sink2 = Scd2ParquetSink(sink.path)
    sink2.merge_batch(
        spark.createDataFrame([(9, "error", 5000, 999)], _SCHEMA), 1
    )
    assert sink2.n_buckets == 16
    u9 = sink2.read(spark).filter("user_id = 9").orderBy("version_n")
    assert [(r.attr, bool(r.is_current)) for r in u9.collect()] == [
        ("signup", False),
        ("error", True),
    ]
    # user 9 now lives in bucket 9 (pmod(9,16)), not the old bucket 1
    assert {r.bucket for r in u9.collect()} == {9}
    files9 = glob.glob(os.path.join(sink.path, "bucket=9", "*.parquet"))
    assert files9


def test_collapsed_tail_out_of_order_detected(spark, tmp_path):
    """The soundness case the retained-version head CANNOT catch (found
    r11 while deriving the guard's closed-form oracle): deliver A@10 then
    A@20 — the run-collapse keeps ONE version opening at 10, erasing the
    evidence that 20 was delivered. A late novel B@15 compares newer than
    the retained head but older than the delivered maximum; merging it
    would yield A[10,15), B[15,∞) — silently missing the A@20 reversion.
    The per-key last-seen metadata must catch it."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    sink.merge_batch(
        spark.createDataFrame(
            [(1, "signup", 1000, 1), (1, "signup", 2000, 2)], _SCHEMA
        ),
        0,
    )
    before = _user_rows(spark, sink, 1)
    assert before == [("signup", 1000, None, True)]  # collapsed to one run
    sink.merge_batch(
        spark.createDataFrame([(1, "error", 1500, 99)], _SCHEMA), 1
    )
    assert _user_rows(spark, sink, 1) == before  # history untouched
    q = spark.read.parquet(sink.quarantine_path)
    assert [(r.user_id, r.event_id, r.reason) for r in q.collect()] == [
        (1, 99, "out_of_order")
    ]
    # while an A@1500 (value in force, collapsed-region position) is a
    # no-op and passes
    sink.merge_batch(
        spark.createDataFrame([(1, "signup", 1500, 100)], _SCHEMA), 2
    )
    assert _user_rows(spark, sink, 1) == before
    assert len(glob.glob(os.path.join(sink.quarantine_path, "batch_id=*"))) == 1


def test_multi_key_quarantine_rebuild_only_affected_buckets(spark, tmp_path):
    """VERDICT r11 #8 done-criterion: a quarantine spanning MULTIPLE keys
    in different buckets rebuilds exactly those keys' buckets, empties
    the quarantine, and leaves every unflagged bucket's files
    byte-untouched."""
    import glob
    import os

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    changelog = [
        (1, "signup", 1000, 1), (1, "pro", 1500, 70), (1, "error", 2000, 2),
        (2, "signup", 1100, 3), (2, "gold", 1600, 71), (2, "error", 2100, 4),
        (3, "signup", 1200, 5),  # bucket 3: never flagged
    ]
    in_order = [r for r in changelog if r[3] not in (70, 71)]
    sink.merge_batch(spark.createDataFrame(in_order, _SCHEMA), 0)
    late = spark.createDataFrame(
        [(1, "pro", 1500, 70), (2, "gold", 1600, 71)], _SCHEMA
    )
    sink.merge_batch(late, 1)  # both violate: between merged versions
    assert sorted(
        r.user_id for r in sink.needs_rebuild(spark).collect()
    ) == [1, 2]
    u3_files = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=3", "*.parquet"))
    }
    assert u3_files  # the control bucket exists

    n = sink.rebuild_keys(spark, spark.createDataFrame(changelog, _SCHEMA))
    assert n == 2
    assert sink.needs_rebuild(spark).count() == 0
    assert not glob.glob(os.path.join(sink.quarantine_path, "batch_id=*"))
    for uid, mids in ((1, ("pro", 1500)), (2, ("gold", 1600))):
        rows = sink.read(spark).filter(f"user_id = {uid}").orderBy(
            "version_n"
        ).collect()
        assert [(r.attr, r.valid_from_s) for r in rows] == [
            ("signup", rows[0].valid_from_s),
            mids,
            ("error", rows[2].valid_from_s),
        ]
    # the unflagged bucket was never rewritten
    assert {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(sink.path, "bucket=3", "*.parquet"))
    } == u3_files
    # self-healing: replaying the offending batch is now a no-op
    before = _history_rows(spark, sink)
    sink.merge_batch(late, 1)
    assert _history_rows(spark, sink) == before


def test_mixed_schema_store_guard_metadata_deterministic(spark, tmp_path):
    """ADVICE r11: a store whose buckets carry MIXED schemas (legacy
    buckets without seen_ts_s/seen_event_id next to post-r11 buckets
    with them) must still run the guard at full strength. Plain parquet
    reads infer the schema from an arbitrary file — when a legacy file
    won, recorded guard metadata was silently dropped and the
    collapsed-tail case slipped through. The schema-merged read makes
    the metadata columns always visible; legacy rows degrade per-row to
    the retained-opening fallback."""
    sink = Scd2ParquetSink(str(tmp_path / "h"))
    # legacy bucket=1 (user 1): history WITHOUT the seen_* columns
    spark.createDataFrame(
        [(1, "signup", 1, 1000, 3000, 1, False),
         (1, "error", 2, 3000, None, 3, True)],
        "user_id BIGINT, attr STRING, version_n BIGINT, valid_from_s BIGINT,"
        " valid_to_s BIGINT, event_id BIGINT, is_current BOOLEAN",
    ).coalesce(1).write.parquet(str(tmp_path / "h" / "bucket=1"))
    # post-r11 bucket=2 (user 2): a@1000 then a@2000 collapse into one
    # version whose recorded last-seen position (2000) exceeds its
    # retained opening (1000) — the collapsed-tail case
    sink.merge_batch(
        spark.createDataFrame(
            [(2, "a", 1000, 1), (2, "a", 2000, 2)], _SCHEMA
        ),
        0,
    )
    assert sink.read(spark).filter("user_id = 2").count() == 1
    # one batch touching BOTH buckets: the history read spans mixed
    # schemas. user 2's late b@1500 sits between the collapsed records —
    # ONLY the seen metadata can catch it; user 1's new record merges.
    sink.merge_batch(
        spark.createDataFrame(
            [(1, "ok", 4000, 5), (2, "b", 1500, 99)], _SCHEMA
        ),
        1,
    )
    q = spark.read.parquet(sink.quarantine_path)
    assert [(r.user_id, r.ts_s, r.event_id, r.reason) for r in q.collect()] \
        == [(2, 1500, 99, "out_of_order")]
    u1 = sink.read(spark).filter("user_id = 1").orderBy("version_n")
    assert [r.attr for r in u1.collect()] == ["signup", "error", "ok"]
    # the merged read always exposes the metadata columns
    assert "seen_ts_s" in sink.read(spark).columns


def test_failed_bucket_swap_keeps_store_and_replay_converges(
    spark, tmp_path, monkeypatch
):
    """A merge whose SECOND bucket swap raises must not destroy data: the
    failed bucket still reads as before (its old files are moved back
    from the backup), and replaying the same batch converges to the
    history a clean merge produces."""
    import os

    seed = spark.createDataFrame(
        [(u, "signup", 1000 + u, u) for u in range(1, 17)], _SCHEMA
    )
    batch = spark.createDataFrame(
        [(u, "error", 2000 + u, 100 + u) for u in (1, 2, 3)], _SCHEMA
    )
    clean = Scd2ParquetSink(str(tmp_path / "clean"))
    clean.merge_batch(seed, 0)
    clean.merge_batch(batch, 1)

    sink = Scd2ParquetSink(str(tmp_path / "h"))
    sink.merge_batch(seed, 0)
    before = {u: _user_rows(spark, sink, u) for u in range(1, 17)}

    staging = sink.path + "_staging"
    real_rename = os.rename
    swapped = []

    def rename(src, dst):
        if str(src).startswith(staging + os.sep + "bucket="):
            swapped.append(int(str(src).rsplit("bucket=", 1)[1]))
            if len(swapped) == 2:
                raise OSError("injected rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected"):
        sink.merge_batch(batch, 1)
    monkeypatch.undo()

    # every user outside the one bucket that did swap reads as before —
    # the failed bucket's users included
    for u in range(1, 17):
        if u % Scd2ParquetSink.N_BUCKETS != swapped[0]:
            assert _user_rows(spark, sink, u) == before[u], u

    sink.merge_batch(batch, 1)  # the replay
    assert _history_rows(spark, sink) == _history_rows(spark, clean)
