"""Outside-in layer tracing for the benchmark.

A :class:`Tracer` wraps calls to the engine's public entry points in
named spans. With tracing on, each span records which Spark jobs ran
inside it (by diffing the scheduler's job-id counter; micro-batches of
streaming queries carry their own job group, so ``setJobGroup`` cannot
be used) and reads their stage metrics from Spark's status store, which
stays populated with ``spark.ui.enabled=false``. The per-trigger
``durationMs`` breakdown of any streaming query started inside a span
comes from that query's ``recentProgress``. With tracing off a span
only reads the clock twice, so an untraced run still records each
call's wall.

The arithmetic (interval unions, self time, driver time, percentiles)
is plain Python at the bottom of this module so it can be tested
without Spark.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time
from contextlib import contextmanager

#: per-span counters reported for every traced layer
COUNTERS = ("wall_s", "driver_s", "jobs", "executor_run_s",
            "executor_cpu_s", "shuffle_bytes")


class Span:
    __slots__ = ("name", "op", "start", "end", "parent", "children",
                 "jobs", "counters", "extra")

    def __init__(self, name: str, op, start: float, parent: "Span | None"):
        self.name, self.op, self.start, self.end = name, op, start, start
        self.parent = parent
        self.children: list[Span] = []
        self.jobs: list[tuple[float, float]] = []
        self.counters: dict[str, float] = {}
        self.extra: dict[str, float] = {}

    def to_dict(self, index: dict[int, int]) -> dict:
        return {
            "name": self.name, "op": self.op, "start": self.start,
            "end": self.end,
            "parent": None if self.parent is None else index[id(self.parent)],
            **self.counters, **self.extra,
        }


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        if not enabled:
            return
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._queries: list = []
        self._lock = threading.Lock()
        _capture_streaming_queries(self._queries, self._lock)

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            # walls only: two clock reads, no Spark calls
            s = Span(name, op, time.time(), None)
            try:
                yield s
            finally:
                s.end = time.time()
                self.spans.append(s)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, time.time(), parent)
        if parent is not None:
            parent.children.append(s)
        first_job = int(self._sc.dagScheduler().nextJobId())
        first_query = len(self._queries)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._finish(s, first_job, first_query)
            self.spans.append(s)
            if parent is not None:
                # the parent's self time includes this bookkeeping
                parent.extra["trace_s"] = (parent.extra.get("trace_s", 0.0)
                                           + time.time() - s.end)

    def current_op(self):
        """The op of the innermost open span (traced runs only)."""
        return self._stack[-1].op if self._stack else None

    def _finish(self, s: Span, first_job: int, first_query: int) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        last_job = int(self._sc.dagScheduler().nextJobId())
        c = dict.fromkeys(("jobs", "executor_run_s", "executor_cpu_s",
                           "shuffle_bytes", "gc_s", "spill_bytes", "tasks"), 0.0)
        for jid in range(first_job, last_job):
            if jid in self._seen_jobs:
                continue  # claimed by a child span
            self._seen_jobs.add(jid)
            try:
                job = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted past spark.ui.retainedJobs
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                s.jobs.append((sub.get().getTime() / 1000.0,
                               done.get().getTime() / 1000.0))
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue  # a reused shuffle stage: counted once
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage, no attempt
                    continue
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["tasks"] += st.numCompleteTasks()
        child_iv = [(k.start, k.end) for k in s.children]
        c["wall_s"] = self_seconds(s.start, s.end, child_iv)
        c["driver_s"] = driver_seconds(s.start, s.end, s.jobs, child_iv)
        s.counters = c
        with self._lock:
            queries = self._queries[first_query:]
            del self._queries[first_query:]
        triggers = [p for q in queries for p in q.recentProgress]
        if triggers:
            s.extra["query_start_s"] = max(0.0, _iso_epoch(triggers[0]["timestamp"]) - s.start)
            for key, name in (("latest_offset_s", "latestOffset"), ("add_batch_s", "addBatch")):
                s.extra[key] = sum(p["durationMs"].get(name, 0) for p in triggers) / 1e3

    def dump(self) -> list[dict]:
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [s.to_dict(index) for s in self.spans]

    def walls(self) -> dict[str, float]:
        """Median wall per span name over measured ops (op >= 0)."""
        by: dict[str, list[float]] = {}
        for s in self.spans:
            if s.op is not None and s.op >= 0:
                by.setdefault(s.name, []).append(s.end - s.start)
        return {n: median(v) for n, v in by.items()}


def _capture_streaming_queries(sink: list, lock: threading.Lock) -> None:
    """Keep a handle on every streaming query started from now on: the
    engine's synchronous drains do not return theirs, and a terminated
    query's ``recentProgress`` is only reachable through its handle. (A
    Python ``StreamingQueryListener`` would do the same, but routing
    every listener event through py4j doubled a wave's wall.)"""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        with lock:
            sink.append(q)
        return q

    DataStreamWriter.start = recording_start


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def host_steal_s() -> float:
    """Seconds the hypervisor has taken from this host's CPUs so far
    (``steal`` on the ``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and all its live
    descendants, plus what their reaped children used: the driver, the
    Spark JVM and its Python workers together."""
    root = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(d)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += cpu[pid]
    return total


# -- arithmetic (no Spark) ----------------------------------------------------

def union_seconds(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_seconds(start: float, end: float, children) -> float:
    """A span's wall minus the time covered by its child spans."""
    return (end - start) - union_seconds(_clip(children, start, end))


def driver_seconds(start: float, end: float, jobs, children) -> float:
    """Self time during which none of the span's own jobs was running:
    self wall minus the union of its job intervals, with the parts that
    fall inside child spans removed first."""
    own = _clip(jobs, start, end)
    covered = union_seconds(own) - union_seconds(
        [iv for c in _clip(children, start, end) for iv in _clip(own, *c)])
    return self_seconds(start, end, children) - covered


def tail_percentile(values, min_beyond: int = 10,
                    grid=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> tuple[float, float]:
    """(percentile, value): the highest grid percentile with at least
    ``min_beyond`` samples above it. Too few samples for even the p50
    to qualify gives the maximum, reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    for p in grid:
        if n * (100.0 - p) / 100.0 + 1e-9 >= min_beyond:
            return p, xs[max(0, math.ceil(p / 100.0 * n) - 1)]
    return 100.0, xs[-1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2.0


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    var = sum((x - mx) ** 2 for x in xs)
    return 0.0 if var == 0 else sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var


def overhead(traced: dict, untraced: dict) -> dict:
    """Per end-to-end metric: traced minus untraced, absolute and as a
    share of the untraced value."""
    out = {}
    for k in sorted(set(traced) & set(untraced)):
        a, b = traced[k], untraced[k]
        out[k] = {"delta": a - b, "share": (a - b) / b if b else None}
    return out
