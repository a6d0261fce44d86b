"""The three benchmark workloads, driven through the program's public calls.

``sign_steady``  open-loop producer, one put object per second, into
                 ``signed_stream`` -> ``KeyedParquetSink.upsert_batch``.
``backlog_drain`` a staged backlog drained with ``availableNow`` into a
                 pre-seeded store, repeated from a pristine copy.
``read_mix``     one closed-loop client alternating registry queries and
                 single-key ``KeyedParquetSink.fetch`` lookups.

Every workload returns a :class:`Result`: its end-to-end figures
(``metrics``), the same figures under workload-specific names for the
printed report (``report``), per-layer figures (``layers``) and the
attempted / failed operation counts. All times are ``perf_counter``
seconds of this process.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from hashlib import sha256

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen, hoststat, latency
from .trace import Tracer

SETUP_REPS = 5
STEADY_RATE = 200  # records per put object, one object per second
STEADY_REDELIVER = 0.10
STEADY_WARMUP_OBJECTS = 4  # three before the query starts, one after its first batch
BACKLOG_OBJECTS = 100
BACKLOG_PER_OBJECT = 1_000
BACKLOG_REDELIVER = 0.20
BACKLOG_PRESIGNED = 0.05  # backlog slots holding records the store already has
PRIOR_SIGNATURES = 250_000
MIX_QUERIES = (
    "ref_ingest_partition_assign",
    "ref_keyring_lookup_join",
    "ref_minute_sum",
    "ref_lru_rotation",
    "ref_content_hash_dedup",
    "ref_alarm_threshold",
    "ref_validity_split_dlq",
    "ref_sign_pipeline",
    "ref_sign_ecdsa",
    "stream_lru_keyring",
)
MIX_TABLE_ROWS = {"events": 10_000, "orders": 15_000, "supplier": 100}
LOOKUPS_PER_QUERY = 1
LOOKUP_KEYS = 64
DRAIN_TIMEOUT_S = 120


@dataclass
class Result:
    metrics: dict[str, float]
    report: dict[str, tuple[float, str]]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0


class Context:
    """One run's session, directories, tracer and clocks."""

    def __init__(self, root: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(None, trace)
        self.spark = None
        self.setup_times: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def setup(self, prepare) -> None:
        """Start the session and run ``prepare(spark)`` SETUP_REPS times,
        restarting the SparkContext between repetitions; the last session
        is the one measured. The first repetition also starts the JVM."""
        from aws_localstack_stream_processing_spark.session import get_spark

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            self.tracer.sc = self.spark.sparkContext
            self.tracer.add("session", "get_spark", t0, t1)
            prepare(self.spark)
            self.setup_times.append(time.perf_counter() - t0)
        self.tracer.listen(self.spark)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM and the
        Python workers it started to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        workers = hoststat.descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        gateway.shutdown()
        self.spark = None
        if proc is None:
            return
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        hoststat.reap(workers, timeout=30)

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident memory of this Python driver and of the JVM."""
        jvm = self.jvm_pid()
        return hoststat.peak_rss_mb(), hoststat.peak_rss_mb(jvm) if jvm else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def common_layers(ctx: Context) -> dict[str, float]:
    tr = ctx.tracer
    return {
        "session.get_spark_s": _median(tr.durations("session", "get_spark")),
        "catalog.load_table_s": _median(tr.durations("catalog", "load_table")),
    }


def _signing_query(ctx: Context, landing: str, checkpoint: str, on_batch, trigger):
    from aws_localstack_stream_processing_spark.streaming.jobs import signed_stream

    with ctx.tracer.span("streaming.jobs", "signed_stream"):
        df = signed_stream(ctx.spark, landing + "/*")
    return (
        df.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )


def _sink_callback(ctx: Context, sink, committed: dict[int, float]):
    """foreachBatch function: the sink's upsert, then the commit time."""

    def on_batch(batch_df, batch_id):
        with ctx.tracer.span("streaming.sinks", "upsert_batch"):
            sink.upsert_batch(batch_df, batch_id)
        committed[batch_id] = time.perf_counter()

    return on_batch


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _stream_layers(progress: list[dict], batch_of: dict[int, int]) -> dict[str, float]:
    """Engine, source and dedup-operator figures from query progress."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return _median(p["durationMs"].get(key, 0) for p in data)

    dedup = [op for p in progress for op in p.get("stateOperators", [])
             if op.get("operatorName") == "dedupe"]
    last = dedup[-1] if dedup else {}
    return {
        "engine.trigger_ms_p50": dur("triggerExecution"),
        "engine.query_planning_ms_p50": dur("queryPlanning"),
        "engine.wal_commit_ms_p50": dur("walCommit"),
        "engine.commit_offsets_ms_p50": dur("commitOffsets"),
        "engine.batches": float(len(progress)),
        "streaming.source.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.source.get_batch_ms_p50": dur("getBatch"),
        "streaming.source.backlog_objects_p50": _median(latency.objects_per_batch(batch_of)),
        "streaming.source.rows_per_batch_p50": _median(p["numInputRows"] for p in data),
        "streaming.jobs.dedup_state_rows": float(last.get("numRowsTotal", 0)),
        "streaming.jobs.dedup_state_bytes": float(last.get("memoryUsedBytes", 0)),
        "streaming.jobs.dedup_commit_ms_p50": _median(
            op.get("commitTimeMs", 0) for op in dedup),
        # as Spark counts it: once per execution of the batch's plan
        "streaming.jobs.dedup_dropped_duplicates": float(sum(
            op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in dedup)),
    }


def _sink_layers(ctx: Context, store: str, offered: int, written: int) -> dict[str, float]:
    """Sink figures; ``offered`` is the distinct records delivered to the
    stream, ``written`` the rows the store gained. (The dedup operator's
    row counters count each execution of a batch's plan, so they cannot
    say what reached the sink.)"""
    tr = ctx.tracer
    ups = tr.durations("streaming.sinks", "upsert_batch")
    files = checks.store_files(store)
    return {
        "streaming.sinks.upsert_s_p50": _median(ups),
        "streaming.sinks.upsert_s_p90": latency.quantile(ups, 0.9) if ups else 0.0,
        "streaming.sinks.jobs_per_batch": _median(tr.jobs("streaming.sinks", "upsert_batch")),
        "streaming.sinks.store_files": float(len(files)),
        "streaming.sinks.store_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        "streaming.sinks.rows_offered": float(offered),
        "streaming.sinks.rows_written": float(written),
        "streaming.sinks.write_ratio": written / offered if offered else 0.0,
        "streaming.jobs.signed_stream_s_p50": _median(
            tr.durations("streaming.jobs", "signed_stream")),
    }


def _store_rows(store: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in checks.store_files(store))


def _seed_store(ctx: Context, path: str, ids: np.ndarray) -> pa.Table:
    """Pre-seed a store with the signatures of records ``ids`` through the
    sink's own first write; returns the hashlib reference rows."""
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    rows = gen.signatures(gen.events(ctx.seed, ids))
    src = ctx.path("prior.parquet")
    pq.write_table(rows, src)
    KeyedParquetSink(path, "tx_hash").upsert_batch(ctx.spark.read.parquet(src), 0)
    return rows


# --- sign_steady -------------------------------------------------------------


def wait_committed(q, checkpoint: str, committed: dict[int, float], seq: int) -> None:
    """Wait until the batch that read put object ``seq`` has returned from
    foreachBatch, the query has stopped, or DRAIN_TIMEOUT_S has passed."""
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while q.isActive and time.perf_counter() < deadline:
        bid = latency.object_batches(checkpoint).get(seq)
        if bid is not None and bid in committed:
            return
        time.sleep(0.05)


def sign_steady(ctx: Context) -> Result:
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink
    from aws_localstack_stream_processing_spark.streaming.jobs import signed_stream

    landing, staging = ctx.path("landing"), ctx.path("staging")
    os.makedirs(landing)
    n_obj = STEADY_WARMUP_OBJECTS + ctx.seconds
    plan = gen.delivery_plan(ctx.seed, 0, n_obj, STEADY_RATE, STEADY_REDELIVER, "steady")
    tables = [gen.events(ctx.seed, ids) for ids in plan]
    for seq in range(STEADY_WARMUP_OBJECTS - 1):
        gen.write_atomic(tables[seq], os.path.join(staging, str(seq)),
                         gen.object_dir(landing, seq))

    ctx.setup(lambda spark: signed_stream(spark, landing + "/*"))

    sink = KeyedParquetSink(ctx.path("store"), "tx_hash")
    committed: dict[int, float] = {}
    checkpoint = ctx.path("checkpoint")
    q = _signing_query(ctx, landing, checkpoint, _sink_callback(ctx, sink, committed),
                       {"processingTime": "0 seconds"})
    failed_batches = 0
    try:
        # warm-up, untimed: the first batch (query start, empty store), then
        # one more object, so the timed objects meet the store-probe path warm
        wait_committed(q, checkpoint, committed, STEADY_WARMUP_OBJECTS - 2)
        seq = STEADY_WARMUP_OBJECTS - 1
        gen.write_atomic(tables[seq], os.path.join(staging, str(seq)),
                         gen.object_dir(landing, seq))
        wait_committed(q, checkpoint, committed, seq)

        # the producer: this thread puts one object per second on schedule,
        # whatever the query's progress (open loop)
        due: dict[int, float] = {}
        late: list[float] = []
        t_start = time.perf_counter() + 0.5
        steal0 = hoststat.cpu_times()
        for k in range(ctx.seconds):
            seq = STEADY_WARMUP_OBJECTS + k
            due[seq] = t_start + k
            pause = due[seq] - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            gen.write_atomic(tables[seq], os.path.join(staging, str(seq)),
                             gen.object_dir(landing, seq))
            late.append(time.perf_counter() - due[seq])
        wait_committed(q, checkpoint, committed, n_obj - 1)
        steal = hoststat.steal_pct(steal0, hoststat.cpu_times())
    finally:
        error = q.exception() if not q.isActive else None
        q.stop()
    if error is not None:
        print(f"sign_steady: query failed: {error}", flush=True)
        failed_batches += 1

    progress = _progress(q)
    batch_of = latency.object_batches(checkpoint)
    rows = {s: STEADY_RATE for s in due}
    lat, missing = latency.record_latencies(due, rows, batch_of, committed)
    all_ids = np.concatenate(plan)
    timed_ids = np.concatenate(plan[STEADY_WARMUP_OBJECTS:])
    fresh = len(np.setdiff1d(np.unique(timed_ids), np.concatenate(plan[:STEADY_WARMUP_OBJECTS])))
    expected = checks.distinct_by_hash(gen.signatures(gen.events(ctx.seed, np.unique(all_ids))))
    mismatches = checks.check_store(sink.path, expected, "sign_steady store")

    commits = [committed[batch_of[s]] for s in due if s in batch_of and batch_of[s] in committed]
    span = (max(commits) - min(due.values())) if commits else float("nan")
    data_batches = {batch_of[s] for s in due if s in batch_of}
    triggers = [p["durationMs"]["triggerExecution"] / 1000 for p in progress
                if p["batchId"] in data_batches]
    put = STEADY_RATE * n_obj
    failed = min(put, STEADY_RATE * (len(missing) + failed_batches) + mismatches)
    if not lat:
        lat = [float("nan")]
    metrics = {
        "latency_p50_s": latency.quantile(lat, 0.5),
        "latency_p90_s": latency.quantile(lat, 0.9),
        "throughput_rps": fresh / span if commits else float("nan"),
        "cycle_s": _median(triggers),
    }
    report = {
        "sign_latency_p50_s": (metrics["latency_p50_s"], "s"),
        "sign_latency_p90_s": (metrics["latency_p90_s"], "s"),
        "signed_rps": (metrics["throughput_rps"], "records/s"),
        "batch_s": (metrics["cycle_s"], "s"),
        "batches": (float(len(triggers)), "count"),
        "latency_samples": (float(len(lat)), "records"),
        "gen_late_max_s": (max(late), "s"),
    }
    layers = {}
    if ctx.tracer.enabled:
        layers.update(_stream_layers(progress, batch_of))
        layers.update(_sink_layers(ctx, sink.path, len(np.unique(all_ids)),
                                   _store_rows(sink.path)))
    layers["bench.gen_late_max_s"] = max(late)
    layers["bench.cpu_steal_pct"] = steal
    return Result(metrics, report, layers, attempted=put, failed=failed)


# --- backlog_drain -------------------------------------------------------------


def _backlog_plan(seed: int) -> list[np.ndarray]:
    plan = gen.delivery_plan(seed, PRIOR_SIGNATURES, BACKLOG_OBJECTS, BACKLOG_PER_OBJECT,
                             BACKLOG_REDELIVER, "backlog")
    r = gen.rng(seed, "presigned")
    for ids in plan:
        hit = r.random(len(ids)) < BACKLOG_PRESIGNED
        ids[hit] = r.integers(0, PRIOR_SIGNATURES, int(hit.sum()))
    return plan


def backlog_drain(ctx: Context) -> Result:
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink
    from aws_localstack_stream_processing_spark.streaming.jobs import signed_stream

    landing, staging = ctx.path("landing"), ctx.path("staging")
    os.makedirs(landing)
    plan = _backlog_plan(ctx.seed)
    for seq, ids in enumerate(plan):
        gen.write_atomic(gen.events(ctx.seed, ids), os.path.join(staging, str(seq)),
                         gen.object_dir(landing, seq))
    ctx.setup(lambda spark: signed_stream(spark, landing + "/*"))

    pristine = ctx.path("pristine")
    prior = _seed_store(ctx, pristine, np.arange(PRIOR_SIGNATURES))
    backlog_ids = np.unique(np.concatenate(plan))
    expected = checks.distinct_by_hash(pa.concat_tables(
        [prior, gen.signatures(gen.events(ctx.seed, backlog_ids))]))
    prior_rows = prior.num_rows
    distinct = len(backlog_ids)

    drains, data_commit, failed, attempted = [], [], 0, 0
    records = sum(len(p) for p in plan)
    layers: dict[str, float] = {}
    steal0 = t_end = None
    # drain 0 is an untimed warm-up; timed drains repeat until the window ends
    while t_end is None or not drains or time.perf_counter() < t_end:
        if attempted == 1 and t_end is None:
            steal0 = hoststat.cpu_times()
            t_end = time.perf_counter() + ctx.seconds
        attempted += 1
        store = ctx.path(f"store{attempted}")
        checkpoint = ctx.path(f"checkpoint{attempted}")
        shutil.copytree(pristine, store)
        sink = KeyedParquetSink(store, "tx_hash")
        committed: dict[int, float] = {}
        t0 = time.perf_counter()
        q = _signing_query(ctx, landing, checkpoint, _sink_callback(ctx, sink, committed),
                           {"availableNow": True})
        try:
            q.awaitTermination(DRAIN_TIMEOUT_S)
        finally:
            error = q.exception() if not q.isActive else "timed out"
            q.stop()
        t1 = time.perf_counter()
        progress = _progress(q)
        data_bids = [p["batchId"] for p in progress if p["numInputRows"] > 0]
        mismatches = checks.check_store(store, expected, f"backlog_drain store {attempted}")
        if error is not None or not data_bids or any(b not in committed for b in data_bids):
            print(f"backlog_drain: drain {attempted} failed: {error}", flush=True)
            failed += records
            shutil.rmtree(store)
            if attempted > 3 and not drains:
                break
            continue
        failed += min(records, mismatches)
        if t_end is None:
            shutil.rmtree(store)
            continue
        drains.append(t1 - t0)
        data_commit.append(max(committed[b] for b in data_bids) - t0)
        if ctx.tracer.enabled:
            layers = _stream_layers(progress, latency.object_batches(checkpoint))
            layers.update(_sink_layers(ctx, store, distinct, _store_rows(store) - prior_rows))
        shutil.rmtree(store)
    steal = hoststat.steal_pct(steal0, hoststat.cpu_times())

    # one micro-batch carries the whole backlog, so every record of a drain
    # commits at the same moment: the drain's data-commit time
    per_record = data_commit or [float("nan")]
    metrics = {
        "latency_p50_s": _median(per_record),
        "latency_p90_s": latency.quantile(per_record, 0.9),
        "throughput_rps": _median(distinct / d for d in data_commit) if data_commit
        else float("nan"),
        "cycle_s": _median(drains) if drains else float("nan"),
    }
    report = {
        "sign_throughput_rps": (metrics["throughput_rps"], "records/s"),
        "drain_commit_p50_s": (metrics["latency_p50_s"], "s"),
        "drain_wall_s": (metrics["cycle_s"], "s"),
        "drains": (float(len(drains)), "count"),
        "backlog_records": (float(records), "records"),
        "backlog_distinct": (float(distinct), "records"),
    }
    layers["bench.gen_late_max_s"] = 0.0  # the backlog is staged before start
    layers["bench.cpu_steal_pct"] = steal
    return Result(metrics, report, layers, attempted=attempted * records, failed=failed)


# --- read_mix -------------------------------------------------------------------


def _lookup_keys(ctx: Context, prior: pa.Table) -> list[str]:
    """Half the keys are in the store, half are absent."""
    r = gen.rng(ctx.seed, "lookups")
    present = prior["tx_hash"].take(
        pa.array(r.choice(prior.num_rows, LOOKUP_KEYS // 2, replace=False))).to_pylist()
    absent = [sha256(f"absent-{ctx.seed}-{i}".encode()).hexdigest()
              for i in range(LOOKUP_KEYS - len(present))]
    keys = present + absent
    order = r.permutation(len(keys))
    return [keys[i] for i in order]


def read_mix(ctx: Context) -> Result:
    import duckdb

    from aws_localstack_stream_processing_spark.catalog import load_table
    from aws_localstack_stream_processing_spark.plans import all_queries
    from aws_localstack_stream_processing_spark.streaming.sinks import KeyedParquetSink

    sf_dir = ctx.path("tables")
    os.makedirs(sf_dir)
    tables = gen.registry_tables(ctx.seed, MIX_TABLE_ROWS["events"],
                                 MIX_TABLE_ROWS["orders"], MIX_TABLE_ROWS["supplier"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))

    def prepare(spark):
        # a fresh layout cache per repetition, so each one pays the relayout
        os.environ["SPARK_GRAFT_LAYOUT_CACHE_DIR"] = ctx.path(f"layout{len(ctx.setup_times)}")
        for name in tables:
            with ctx.tracer.span("catalog", "load_table"):
                load_table(spark, sf_dir, name)

    ctx.setup(prepare)
    registry = all_queries()
    queries = {name: registry[name] for name in MIX_QUERIES}

    spark = ctx.spark
    _wrap_keyring(ctx)

    # correctness pass, outside timing: every query against its oracle
    failed = 0
    duck = duckdb.connect()
    for name in tables:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                     f"read_parquet('{os.path.join(sf_dir, name)}.parquet')")
    for name, qd in queries.items():
        try:
            sdf = qd.fn(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            res = duck.execute(qd.oracle)
            failed += bool(checks.check_oracle(
                name, sdf.columns, s_rows, [c[0] for c in res.description], res.fetchall()))
        except Exception as e:  # a failing query is a correctness failure
            print(f"read_mix: {name} failed: {e}", flush=True)
            failed += 1
    duck.close()
    attempted = len(queries)

    store = ctx.path("store")
    prior = _seed_store(ctx, store, np.arange(PRIOR_SIGNATURES))
    sink = KeyedParquetSink(store, "tx_hash")
    by_hash = {h: (h, k, s) for h, k, s in zip(
        prior["tx_hash"].to_pylist(), prior["key_id"].to_pylist(),
        prior["signature"].to_pylist())}
    keys = _lookup_keys(ctx, prior)

    def lookup(key: str) -> int:
        with ctx.tracer.span("streaming.sinks", "fetch"):
            got = sink.fetch(spark, spark.createDataFrame([(key,)], "tx_hash string"))
            rows = [tuple(r[c] for c in checks.STORE_COLS) for r in got.collect()]
        want = [by_hash[key]] if key in by_hash else []
        return checks.check_rows(rows, want, f"fetch {key[:12]}")

    # warm the lookup path on one present and one absent key, also checked
    for key in (next(k for k in keys if k in by_hash), next(k for k in keys if k not in by_hash)):
        failed += bool(lookup(key))
        attempted += 1

    lookups, per_query = [], {n: [] for n in queries}
    steal0 = hoststat.cpu_times()
    t_begin = time.perf_counter()
    t_end = t_begin + ctx.seconds
    k = 0
    for i in itertools.count():
        name = MIX_QUERIES[i % len(MIX_QUERIES)]
        if i >= len(MIX_QUERIES) and time.perf_counter() >= t_end:
            break
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("plans", name):
                queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"read_mix: {name} failed: {e}", flush=True)
            failed += 1
        per_query[name].append(time.perf_counter() - t0)
        attempted += 1
        for _ in range(LOOKUPS_PER_QUERY):
            key = keys[k % len(keys)]
            k += 1
            t0 = time.perf_counter()
            try:
                bad = lookup(key)
            except Exception as e:
                print(f"read_mix: lookup failed: {e}", flush=True)
                bad = 1
            lookups.append(time.perf_counter() - t0)
            failed += bool(bad)
            attempted += 1
    elapsed = time.perf_counter() - t_begin
    steal = hoststat.steal_pct(steal0, hoststat.cpu_times())

    all_q = [t for ts in per_query.values() for t in ts]
    metrics = {
        "latency_p50_s": latency.quantile(lookups, 0.5),
        "latency_p90_s": latency.quantile(lookups, 0.9),
        "throughput_rps": (len(all_q) + len(lookups)) / elapsed,
        # one pass over the list, from each query's median time
        "cycle_s": sum(_median(ts) for ts in per_query.values()),
    }
    report = {
        "lookup_latency_p50_s": (metrics["latency_p50_s"], "s"),
        "lookup_latency_p90_s": (metrics["latency_p90_s"], "s"),
        "query_p50_s": (_median(all_q), "s"),
        "query_mix_s": (metrics["cycle_s"], "s"),
        "requests_per_s": (metrics["throughput_rps"], "1/s"),
        "queries": (float(len(all_q)), "count"),
        "lookups": (float(len(lookups)), "count"),
    }
    layers = {}
    if ctx.tracer.enabled:
        tr = ctx.tracer
        for name in queries:
            layers[f"plans.{name}_s"] = _median(tr.durations("plans", name))
        layers["streaming.sinks.fetch_jobs"] = _median(tr.jobs("streaming.sinks", "fetch"))
        # the key ring runs inside stream_lru_keyring's memory-sink queries:
        # its busy time is each query run's summed trigger time
        per_run: dict[str, float] = {}
        state_rows = 0
        for p in tr.progress:
            if str(p.get("name") or "").startswith("slsp_mem_"):
                per_run[p["runId"]] = (per_run.get(p["runId"], 0.0)
                                       + p["durationMs"].get("triggerExecution", 0) / 1000)
                for op in p.get("stateOperators", []):
                    state_rows = max(state_rows, op.get("numRowsTotal", 0))
        layers["streaming.keyring.assign_s"] = _median(per_run.values())
        layers["streaming.keyring.state_rows"] = float(state_rows)
    layers["bench.gen_late_max_s"] = 0.0  # closed loop: no schedule to fall behind
    layers["bench.cpu_steal_pct"] = steal
    return Result(metrics, report, layers, attempted=attempted, failed=failed)


def _wrap_keyring(ctx: Context) -> None:
    """Span the key ring's public call where the registry query makes it."""
    if not ctx.tracer.enabled:
        return
    from aws_localstack_stream_processing_spark.plans import streaming_surface

    inner = streaming_surface.lru_keyring_assign

    def traced(*args, **kwargs):
        with ctx.tracer.span("streaming.keyring", "lru_keyring_assign"):
            return inner(*args, **kwargs)

    streaming_surface.lru_keyring_assign = traced


WORKLOADS = {
    "sign_steady": sign_steady,
    "backlog_drain": backlog_drain,
    "read_mix": read_mix,
}
