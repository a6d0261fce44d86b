"""Spans around the program's public calls, for the traced run.

A span records its layer, name, start and end (``perf_counter`` seconds),
the span that opened it, and the number of Spark jobs run inside it. Jobs
are counted from the status tracker under a job group opened per span;
a child span's jobs are added to its parent's count when it closes.
Spans live in memory and are written out once, at the end of the run.

With tracing off, :class:`Tracer` keeps no spans and touches no job
groups, so the untraced run pays nothing for the hooks. The time spent
on span bookkeeping itself is accumulated in ``overhead_s``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []  # StreamingQueryProgress JSON
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        group = f"perfbench-{sid}"
        parent = stack[-1] if stack else None
        self.sc.setJobGroup(group, f"{layer}.{name}")
        rec = {"id": sid, "parent": parent["id"] if parent else None,
               "layer": layer, "name": name, "jobs": 0}
        stack.append(rec)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec["jobs"] += len(self.sc.statusTracker().getJobIdsForGroup(group))
            if parent is not None:
                parent["jobs"] += rec["jobs"]
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["start"], rec["end"] = start, end
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - end

    def add(self, layer: str, name: str, start: float, end: float) -> None:
        """Record a span timed by the caller, for calls made while no
        SparkContext exists (session start), so no jobs are counted."""
        if self.enabled:
            with self._lock:
                sid = self._next_id
                self._next_id += 1
                self.spans.append({"id": sid, "parent": None, "layer": layer,
                                   "name": name, "jobs": 0,
                                   "start": start, "end": end})

    def durations(self, layer: str, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["layer"] == layer and s["name"] == name]

    def jobs(self, layer: str, name: str) -> list[int]:
        return [s["jobs"] for s in self.spans
                if s["layer"] == layer and s["name"] == name]

    def listen(self, spark) -> None:
        """Collect every streaming query's progress (durations and state
        operator metrics) through a query listener."""
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                p = json.loads(event.progress.json)
                with tracer._lock:
                    tracer.progress.append(p)
                tracer.overhead_s += time.perf_counter() - t0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)
