"""Runner: times calls, labels their Spark jobs, reads counters, checks.

Every call, stream batch and compaction runs under its own Spark job
group, with and without tracing, so the engine does identical work in
both modes. With tracing on, the runner reads counters right after each
span ends (the status store keeps only the last 1000 jobs and stages):

- ``s``: wall time of the span;
- ``jobs``: Spark jobs run in the span's job group and its children's;
- ``driver_gap_s``: span time minus the union of those jobs' intervals
  (planning, Python and py4j work);
- ``task_s``, ``shuffle_mb``, ``gc_s``: differences of the driver
  executor's summary (summed task run time, shuffle bytes written, GC
  time) across the span.

Spans of measured passes (pass → call → batch → compaction) are kept in
memory and written out by the caller at the end of the run.
"""

from __future__ import annotations

import gc
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame

from perfbench.oracles import compare
from perfbench.workloads import CALLS

COUNTERS = ("s", "jobs", "driver_gap_s", "task_s", "shuffle_mb", "gc_s", "failed")
BATCH = "streaming.ingest_batch"
COMPACT = "streaming.compact"


class _Span:
    __slots__ = ("name", "group", "parent", "t0", "t1", "exec0", "job_ids",
                 "failed")

    def __init__(self, name, group, parent):
        self.name, self.group, self.parent = name, group, parent
        self.job_ids: list[int] = []
        self.failed = 0


class Runner:
    def __init__(self, spark, expected: dict, traced: bool):
        self.sc = spark.sparkContext
        self.expected = expected
        self.traced = traced
        self.store = self.sc._jsc.sc().statusStore() if traced else None
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: Counter = Counter()
        self.passes = 0
        self.pass_times: list[float] = []
        # seconds per measured stream batch
        self.batch_samples: list[float] = []
        self.live_rdds: list[int] = []
        self.compactions: list[int] = []
        self.spans: list[dict] = []
        self.trace_overhead: list[float] = []
        self.failed_tasks: list[int] = []
        # name -> per measured pass -> counter -> value
        self._layer: dict[str, list[dict]] = defaultdict(list)
        self._batches: list[dict] = []
        self._stack: list[_Span] = []
        self._seq = 0
        self._measured = False
        self._pending: list[tuple[str, object, int]] = []
        self._pass_rdds: set[int] = set()
        self._marks: list[float] | None = None  # batch starts, while streaming
        self._batch_span: _Span | None = None
        self._pass_layer: dict[str, dict] = {}
        self._compactions = 0
        self.pass_calls: list[tuple[str, float]] = []  # for the run log
        self._job_iv: dict[int, tuple[float, float] | None] = {}
        self._overhead = 0.0

    # ------------------------------------------------------------ RDDs
    @staticmethod
    def persistent_ids(sc) -> set[int]:
        m = sc._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    @staticmethod
    def free(sc, ids) -> None:
        m = sc._jsc.getPersistentRDDs()
        for rid in ids:
            r = m.get(rid)
            if r is not None:
                r.unpersist(False)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Eagerly checkpoint a call's result inside the timed call; its
        blocks are freed when the pass ends."""
        before = self.persistent_ids(self.sc)
        out = df.localCheckpoint(eager=True)
        self._pass_rdds |= self.persistent_ids(self.sc) - before
        return out

    # ------------------------------------------------------------ spans
    def _open(self, name: str) -> _Span:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = _Span(name, f"perfbench-{self._seq}:{name}", parent)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        if self.traced:
            t = time.perf_counter()
            sp.exec0 = self._executor()
            self._overhead += time.perf_counter() - t
        sp.t0 = time.perf_counter()
        return sp

    def _close(self, sp: _Span) -> dict | None:
        sp.t1 = time.perf_counter()
        self._stack.pop()
        if sp.parent is not None:
            self.sc.setJobGroup(sp.parent.group, sp.parent.name)
        else:
            self.sc._jsc.clearJobGroup()
        if not self.traced:
            return None
        t = time.perf_counter()
        ex1 = self._executor()
        own = [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(sp.group)]
        sp.job_ids += own
        if sp.parent is not None:
            sp.parent.job_ids += sp.job_ids
        rec = {
            "s": sp.t1 - sp.t0,
            "jobs": len(sp.job_ids),
            "driver_gap_s": (sp.t1 - sp.t0) - self._busy_s(sp.job_ids),
            "task_s": (ex1[0] - sp.exec0[0]) / 1000.0,
            "shuffle_mb": (ex1[1] - sp.exec0[1]) / 1e6,
            "gc_s": (ex1[2] - sp.exec0[2]) / 1000.0,
            "failed": sp.failed,
        }
        if self._measured:
            self.spans.append({
                "name": sp.name, "group": sp.group,
                "parent": sp.parent.group if sp.parent else None,
                "start": sp.t0, "end": sp.t1, **rec,
            })
        self._overhead += time.perf_counter() - t
        return rec

    def _executor(self) -> tuple[int, int, int, int]:
        """(task ms, shuffle bytes written, GC ms, failed tasks) of the
        local-mode executor."""
        s = self.store.executorSummary("driver")
        return (s.totalDuration(), s.totalShuffleWrite(), s.totalGCTime(),
                s.failedTasks())

    def _busy_s(self, job_ids) -> float:
        """Length of the union of the jobs' [submission, completion]."""
        ivs = []
        for j in job_ids:
            if j not in self._job_iv:
                jd = self.store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                self._job_iv[j] = (
                    (sub.get().getTime(), done.get().getTime())
                    if sub.isDefined() and done.isDefined() else None
                )
            if self._job_iv[j] is not None:
                ivs.append(self._job_iv[j])
        busy, end = 0.0, float("-inf")
        for a, b in sorted(ivs):
            if b > end:
                busy += b - max(a, end)
                end = b
        return busy / 1000.0

    def _record(self, name: str, rec: dict | None) -> None:
        if rec is None or not self._measured:
            return
        if name == BATCH:
            self._batches.append(rec)
            return
        cur = self._pass_layer.setdefault(name, dict.fromkeys(COUNTERS, 0.0))
        for k in COUNTERS:
            cur[k] += rec[k]

    @contextmanager
    def compaction(self):
        """Span of one DynamicGraph.compact call."""
        sp = self._open(COMPACT)
        self._compactions += 1
        try:
            yield
        finally:
            self._record(COMPACT, self._close(sp))

    # ------------------------------------------------------------ calls
    def call(self, name: str, fn, check: str | None, needs=True, ops: int = 1):
        """Run one public call as ``ops`` operations. Returns its result,
        or None when it raised or a result it needs is missing."""
        if self._measured:
            self.attempted += ops
        if needs is None:
            self._fail(f"{name}: not run, an input call failed", ops)
            return None
        sp = self._open(name)
        result = None
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — a failed operation, counted
            first = (str(e).strip().splitlines() or [""])[0]
            self._fail(f"{name}: {type(e).__name__}: {first[:160]}", ops)
            sp.failed = ops
        rec = self._close(sp)
        self.pass_calls.append((name, sp.t1 - sp.t0))
        self._record(name, rec)
        if result is not None and check is not None:
            self._pending.append((check, result, ops))
        return result

    def stream(self, fn, n_batches: int):
        """Run ``fn`` (a run_streaming_pagerank call) whose DynamicGraph
        calls ``batch_boundary`` at each ingest; one sample per batch."""
        self._marks = []
        self._batch_span = None
        try:
            out = fn()
        finally:
            if self._batch_span is not None:
                self._record(BATCH, self._close(self._batch_span))
            marks, self._marks = self._marks, None
        ends = marks[1:] + [time.perf_counter()]
        if self._measured and len(marks) == n_batches:
            self.batch_samples += [b - a for a, b in zip(marks, ends)]
        return out

    def batch_boundary(self) -> None:
        if self._marks is None:
            return
        if self._batch_span is not None:
            self._record(BATCH, self._close(self._batch_span))
        self._marks.append(time.perf_counter())
        self._batch_span = self._open(BATCH)

    def _fail(self, msg: str, ops: int) -> None:
        if self._measured:
            self.failed += ops
            self.errors[msg] += 1

    # ------------------------------------------------------------ passes
    def run_pass(self, workload, measured: bool) -> None:
        """One pass. Its time excludes the output checks, which run after
        it; a measured pass also records counters and checks outputs."""
        self._measured = measured
        self._pass_layer: dict[str, dict] = {}
        self.pass_calls = []
        self._compactions = 0
        self._overhead = 0.0
        sp = self._open("pass")
        workload.run_pass(self)
        self._close(sp)
        if self.traced and measured:
            self.failed_tasks.append(self._executor()[3] - sp.exec0[3])
        if measured:
            self.passes += 1
            self.pass_times.append(sp.t1 - sp.t0)
            self.trace_overhead.append(self._overhead)
            self.compactions.append(self._compactions)
            for name, rec in self._pass_layer.items():
                self._layer[name].append(rec)
            self._check_outputs()
        self._pending.clear()
        self.free(self.sc, self._pass_rdds)
        self._pass_rdds = set()
        self._measured = False

    def _check_outputs(self) -> None:
        for key, result, ops in self._pending:
            why = compare(key, _as_frame(key, result), self.expected[key])
            if why is not None:
                self.failed += ops
                self.wrong += ops
                self.errors[f"{key}: output differs from oracle: {why}"] += 1

    # ------------------------------------------------------------ report
    def per_layer(self, session_s: float) -> dict:
        """Per-layer metrics: each call's counters as the median over
        measured passes of its per-pass total; streaming.ingest_batch as
        the median per batch. Calls of other workloads report 0."""
        out = {}
        for name in LAYERS:
            recs = self._batches if name == BATCH else self._layer.get(name, [])
            for c in COUNTERS:
                vals = [r[c] for r in recs]
                out[f"{name}.{c}"] = statistics.median(vals) if vals else 0.0
        out["spark.failed_tasks"] = sum(self.failed_tasks)
        out["checkpoints.live_rdds"] = statistics.median(self.live_rdds)
        out["streaming.compactions"] = statistics.median(self.compactions)
        out["session.get_spark.s"] = session_s
        out["trace.wall_s"] = statistics.median(self.pass_times)
        out["trace.overhead_s"] = statistics.median(self.trace_overhead)
        return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def _as_frame(key: str, result) -> pd.DataFrame:
    """A call's result in the oracle's shape (runs after the pass)."""
    if key == "edges":
        return result.selectExpr(
            "count(*) AS n", "sum(src) AS s", "sum(dst) AS d"
        ).toPandas()
    if isinstance(result, DataFrame):
        return result.toPandas()
    if key == "triangles":
        return pd.DataFrame({"n_triangles": [result]})
    if key == "als":
        return pd.DataFrame(result)
    return result


# every per-layer span name, in report order
LAYERS = [c for calls in CALLS.values() for c in calls] + [BATCH, COMPACT]
WORKLOAD_COUNTERS = {
    "spark.failed_tasks": "count",
    "checkpoints.live_rdds": "count",
    "streaming.compactions": "count",
    "session.get_spark.s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
UNITS = {"s": "s", "jobs": "count", "driver_gap_s": "s", "task_s": "s",
         "shuffle_mb": "MB", "gc_s": "s", "failed": "count"}


def unit_of(metric: str) -> str:
    return WORKLOAD_COUNTERS.get(metric) or UNITS[metric.rsplit(".", 1)[1]]


def per_layer_names() -> list[str]:
    return [f"{n}.{c}" for n in LAYERS for c in COUNTERS] + list(WORKLOAD_COUNTERS)


def reclaim(spark) -> int:
    """Drop dead DataFrames, run a JVM GC so Spark's ContextCleaner frees
    unreferenced checkpoints, clear the cache manager, and return the
    number of persistent RDDs still alive."""
    sc = spark.sparkContext
    gc.collect()
    sc._jvm.System.gc()
    time.sleep(0.2)  # the ContextCleaner works on its own thread
    live = len(Runner.persistent_ids(sc))
    spark.catalog.clearCache()
    return live
