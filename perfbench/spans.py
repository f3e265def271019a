"""In-memory spans and Spark counters for the traced run.

A span is (name, start, end, parent index, trace id). The benchmark opens
spans around its own calls into each layer of the engine, so nothing inside
the engine changes; each query execution or HTAP cycle is one trace. Spans
stay in memory and are written once, at the end of the run; counts come
from Spark's status store and the benchmark's own bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class Tracer:
    """Records spans when enabled; a disabled tracer costs one attribute
    test per span, so the untraced run measures the engine alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self._stack: list[int] = []
        self._trace_id: str | None = None

    @contextlib.contextmanager
    def trace(self, trace_id: str):
        """Group the spans of one query execution or one HTAP cycle."""
        prev, self._trace_id = self._trace_id, trace_id
        try:
            with self.span("trace"):
                yield
        finally:
            self._trace_id = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), 0.0, parent, self._trace_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, tid = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, tid)

    def add(self, name: str, t0: float, t1: float) -> None:
        """Record a span measured outside a ``with`` block, as a child of
        the innermost open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append((name, t0, t1, parent, self._trace_id))

    def self_times(self, keep=lambda trace_id: True) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover,
        over the traces ``keep`` selects. Children of one parent run one
        after another (one client thread), so they never overlap."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, tid) in enumerate(self.spans):
            if tid is not None and keep(tid):
                out[name] += (t1 - t0) - child[i]
        return dict(out)

    def dumps(self) -> str:
        return json.dumps({"spans": self.spans})


class SparkCounters:
    """Exact job, stage and task counts from Spark's status store, plus the
    stages' shuffle, spill and input-record totals. ``mark()`` before an
    operation and ``since(mark)`` after it give that operation's work."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext._jsc.statusTracker()

    def _job_ids(self) -> list[int]:
        # the status store is fed by the listener bus: drain it first so
        # the jobs that just finished are visible
        self._sc.listenerBus().waitUntilEmpty(10_000)
        return list(self._tracker.getJobIdsForGroup(None))

    def mark(self) -> int:
        return max(self._job_ids(), default=-1)

    def since(self, mark: int) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "input_records": 0, "last_job_end_ms": 0}
        store = self._sc.statusStore()
        for jid in self._job_ids():
            if jid <= mark:
                continue
            j = store.job(jid)
            out["jobs"] += 1
            if j.completionTime().isDefined():
                out["last_job_end_ms"] = max(
                    out["last_job_end_ms"], j.completionTime().get().getTime()
                )
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    s = store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # the stage was never run or was evicted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["input_records"] += s.inputRecords()
        return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution, from its
    QueryPlanningTracker (analysis, optimization, planning)."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def files_read(df) -> int:
    """Files the executed plan's scans read ("number of files read")."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
    return int(total)
