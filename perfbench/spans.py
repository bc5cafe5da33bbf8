"""In-memory span recorder with Spark's own counters attached per span.

A span wraps one call into an engine layer from the benchmark's side and
ends in the action that materializes that layer's result. It records its
name (``<module>.<function>``), the trace it belongs to (one timed
operation), its parent, and two phases: ``build`` from entry to
``built()`` (Python time in the call — plan construction, since Spark is
lazy) and ``exec`` from ``built()`` to exit (the materializing action).

With counters on, every span runs its jobs under its own job group, and on
exit reads, for each job of the group, every stage that ran from the
status store: tasks, executor run/CPU/GC time, shuffle-write and spill
bytes. The time this bookkeeping takes is summed in ``own_s``: the tracing
overhead. ``node_output_rows`` reads SQL node metrics of a span's executions,
and a ``StreamingQueryListener`` collects stream progress. With counters off a
span only takes two clock readings, so the untraced run measures what a
user would see.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb",
)


@dataclass
class Span:
    name: str
    trace: int
    span_id: int
    parent: int | None
    start: float
    built_at: float | None = None
    end: float | None = None
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0
    group: str | None = None
    job_groups: list = field(default_factory=list)

    def built(self) -> None:
        """Mark the end of plan construction; the action follows."""
        self.built_at = time.perf_counter()

    @property
    def duration_s(self) -> float:
        return self.end - self.start

    @property
    def build_ms(self) -> float:
        return ((self.built_at or self.end) - self.start) * 1e3

    @property
    def exec_s(self) -> float:
        return self.end - (self.built_at or self.end)

    @property
    def self_s(self) -> float:
        return self.duration_s - self.child_s

    def record(self) -> dict:
        return {
            "name": self.name, "trace": self.trace, "span": self.span_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "build_ms": self.build_ms, "exec_s": self.exec_s, "self_s": self.self_s,
            **self.counters, **self.attrs,
        }


class Tracer:
    """Records spans in memory; ``counters`` attaches Spark counters."""

    def __init__(self, spark=None, counters: bool = False):
        self.spark = spark
        self.counters = counters and spark is not None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._trace = 0
        self.own_s = 0.0
        self._listener = None
        if self.counters:
            self._listener = ProgressListener()
            spark.streams.addListener(self._listener)

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self._trace, next(self._ids), parent.span_id if parent else None,
                  time.perf_counter())
        sc = self.spark.sparkContext if self.counters else None
        if sc is not None:
            sp.group = f"perfbench-{sp.span_id}"
            sc.setJobGroup(sp.group, name)
            self._listener.open(sp)
            self.own_s += time.perf_counter() - sp.start
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.duration_s
            if sc is not None:
                t = time.perf_counter()
                self._listener.close(sp)
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                sp.counters = stage_counters(self.spark, [sp.group, *sp.job_groups])
                self.own_s += time.perf_counter() - t
            self.spans.append(sp)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.record() for s in self.spans], f)


def stage_counters(spark, groups: list[str]) -> dict:
    """Sum the counters of every stage that ran for the jobs of ``groups``.
    Skipped stages (shuffle output reused) are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen = set()
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6
    return out


def node_output_rows(spark, group: str, node_prefixes: tuple[str, ...]) -> int:
    """Sum of "number of output rows" over the SQL plan nodes whose name
    starts with one of ``node_prefixes``, across the executions whose jobs
    ran under job group ``group`` (AQE's final plan)."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    total = 0
    it = store.executionsList(max(0, n - 50), 50).iterator()
    while it.hasNext():
        ex = it.next()
        ex_jobs = {int(j) for j in re.findall(r"\d+", ex.jobs().keySet().toString())}
        if not ex_jobs & jobs:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith(node_prefixes):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(v.get().replace(",", "").split()[0])
    return total


class ProgressListener(StreamingQueryListener):
    """Collects the progress events of streams started inside a span, and
    adds each stream's job group (its run id) to that span."""

    def __init__(self):
        self.lock = threading.Lock()
        self.current: Span | None = None
        self.progress: dict[str, list] = {}
        self.runs: dict[str, Span] = {}

    def open(self, sp: Span) -> None:
        with self.lock:
            self.current = sp

    def close(self, sp: Span, wait_s: float = 5.0) -> None:
        """Wait until every stream started in ``sp`` has reported its
        termination (the listener bus is asynchronous), then attach its
        progress to ``sp``."""
        deadline = time.perf_counter() + wait_s
        while time.perf_counter() < deadline:
            with self.lock:
                pending = [
                    r for r, owner in self.runs.items()
                    if owner is sp and not (self.progress.get(r) and self.progress[r][-1] is None)
                ]
            if not pending:
                break
            time.sleep(0.01)
        with self.lock:
            if self.current is sp:
                self.current = None
            for run, owner in list(self.runs.items()):
                if owner is sp:
                    sp.job_groups.append(run)
                    sp.attrs.setdefault("progress", []).extend(
                        p for p in self.progress.pop(run, []) if p is not None
                    )
                    del self.runs[run]

    def onQueryStarted(self, event):
        with self.lock:
            if self.current is not None:
                self.runs[str(event.runId)] = self.current

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(
                {"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            # sentinel: the stream has ended, its progress is complete
            self.progress.setdefault(str(event.runId), []).append(None)
