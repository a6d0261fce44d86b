"""Benchmark entry point.

    python3 perfbench/run.py --workload sign_steady --seed 1 --seconds 12 --trace 0

Runs one workload against the program in this checkout and prints its
figures, one ``name value unit`` line each, then as the last line a JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits nonzero on any correctness failure.

Each run works in a fresh directory under ``.perfbench_work/`` in the
checkout (landing area, checkpoints, stores, layout cache, Spark and JVM
temp files) and removes it at the end; traced runs leave their spans in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_rps": "1/s",
    "cycle_s": "s",
}
PER_LAYER = {
    "streaming.sinks.upsert_s_p50": "s",
    "streaming.sinks.upsert_s_p90": "s",
    "streaming.sinks.jobs_per_batch": "count",
    "streaming.sinks.store_files": "count",
    "streaming.sinks.rows_offered": "count",
    "streaming.sinks.rows_written": "count",
    "streaming.sinks.write_ratio": "fraction",
    "streaming.sinks.store_mb": "MB",
    "streaming.sinks.fetch_jobs": "count",
    "streaming.source.latest_offset_ms_p50": "ms",
    "streaming.source.get_batch_ms_p50": "ms",
    "streaming.source.backlog_objects_p50": "count",
    "streaming.source.rows_per_batch_p50": "count",
    "engine.trigger_ms_p50": "ms",
    "engine.query_planning_ms_p50": "ms",
    "engine.wal_commit_ms_p50": "ms",
    "engine.commit_offsets_ms_p50": "ms",
    "engine.batches": "count",
    "streaming.jobs.signed_stream_s_p50": "s",
    "streaming.jobs.dedup_state_rows": "count",
    "streaming.jobs.dedup_state_bytes": "bytes",
    "streaming.jobs.dedup_commit_ms_p50": "ms",
    "streaming.jobs.dedup_dropped_duplicates": "count",
    "plans.ref_ingest_partition_assign_s": "s",
    "plans.ref_keyring_lookup_join_s": "s",
    "plans.ref_minute_sum_s": "s",
    "plans.ref_lru_rotation_s": "s",
    "plans.ref_content_hash_dedup_s": "s",
    "plans.ref_alarm_threshold_s": "s",
    "plans.ref_validity_split_dlq_s": "s",
    "plans.ref_sign_pipeline_s": "s",
    "plans.ref_sign_ecdsa_s": "s",
    "plans.stream_lru_keyring_s": "s",
    "streaming.keyring.assign_s": "s",
    "streaming.keyring.state_rows": "count",
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s",
    "bench.gen_late_max_s": "s",
    "bench.tracing_overhead_frac": "fraction",
    "bench.cpu_steal_pct": "%",
    "bench.error_rate": "fraction",
    # peak RSS is not an end-to-end metric: the JVM heap grows in steps by
    # run-time GC decisions, so runs of one commit differ by up to a third
    "bench.peak_rss_mb": "MB",
}


def _driver_memory() -> str:
    """A quarter of the host's memory, 1 to 8 GiB: the session factory's
    48g default does not fit a small host."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(8, kb // 2**20 // 4))}g"


def isolate(work: str) -> None:
    """Point every file the program, Spark and the JVM write into ``work``
    and size the session to this host. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_STATE_STORE",
                "SPARK_GRAFT_LAYOUT_CACHE"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=_driver_memory(),
        SPARK_GRAFT_LAYOUT_CACHE_DIR=os.path.join(work, "layout"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONPATH=ROOT + (os.pathsep + os.environ["PYTHONPATH"]
                           if os.environ.get("PYTHONPATH") else ""),
        # every JVM, the launcher's included: temp files here, no perf data
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    time.tzset()
    os.chdir(work)

    # The session ships the package to Python workers as a zip it builds
    # under /tmp; build the same archive inside the run directory instead.
    from aws_localstack_stream_processing_spark import session

    def package_zip() -> str:
        import zipfile

        pkg = os.path.dirname(os.path.abspath(session.__file__))
        out = os.path.join(work, "package.zip")
        if not os.path.exists(out):
            with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
                for dirpath, dirnames, filenames in os.walk(pkg):
                    dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
                    for f in sorted(filenames):
                        if f.endswith(".py"):
                            p = os.path.join(dirpath, f)
                            z.write(p, os.path.relpath(p, os.path.dirname(pkg)))
        return out

    session._package_zip = package_zip


def _positive(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"{text} is not a positive whole number")
    return n


def _fmt(v: float) -> str:
    return repr(float(v))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=_positive, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import aws_localstack_stream_processing_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    cwd = os.getcwd()
    isolate(work)
    ctx = workloads.Context(work, args.seed, args.seconds, bool(args.trace))
    t_run = time.perf_counter()
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        rss_py, rss_jvm = ctx.peak_rss_mb()
    finally:
        ctx.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t_run

    setup = sorted(ctx.setup_times)[len(ctx.setup_times) // 2]
    metrics = dict(res.metrics, setup_s=setup)
    error_rate = res.failed / res.attempted if res.attempted else 1.0
    correct = res.failed == 0 and all(math.isfinite(metrics[m]) for m in END_TO_END)

    for name, (value, unit) in res.report.items():
        print(f"{name} {_fmt(value)} {unit}")
    print(f"setup_s {_fmt(setup)} s")
    print(f"setup_first_s {_fmt(ctx.setup_times[0])} s")
    print(f"peak_rss_mb {_fmt(rss_py + rss_jvm)} MB")
    print(f"peak_rss_python_mb {_fmt(rss_py)} MB")
    print(f"peak_rss_jvm_mb {_fmt(rss_jvm)} MB")
    print(f"error_rate {_fmt(error_rate)} fraction")
    print(f"cpu_steal_pct {_fmt(res.layers.get('bench.cpu_steal_pct', 0.0))} %")
    print(f"run_wall_s {_fmt(wall)} s")

    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(workloads.common_layers(ctx))
        layers.update(res.layers)
        layers["bench.tracing_overhead_frac"] = ctx.tracer.overhead_s / wall
        layers["bench.error_rate"] = error_rate
        layers["bench.peak_rss_mb"] = rss_py + rss_jvm
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        for name in PER_LAYER:
            print(f"{name} {_fmt(layers[name])} {PER_LAYER[name]}")
        out = {n: {"value": float(layers[n]), "unit": PER_LAYER[n]} for n in PER_LAYER}
    else:
        out = {n: {"value": float(metrics[n]), "unit": u} for n, u in END_TO_END.items()}

    for m in out.values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    print(json.dumps({"correct": correct, "attempted": int(res.attempted),
                      "failed": int(res.failed), "metrics": out}))
    if not correct:
        print(f"perfbench: {args.workload} failed its correctness gate "
              f"({res.failed} of {res.attempted} failed)", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
