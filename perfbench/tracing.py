"""Spans around calls into the engine's public functions, recorded from
outside the engine.

A span has a name (the metric it feeds, ``<layer>.<what>_s``), a start, an
end, a parent (the operation's root span unless nested) and the id of the
operation it belongs to. Each span runs its Spark jobs under its own job
group, so the status tracker can count the jobs, stages and tasks it caused
once the operation ends. GC time comes from the driver JVM's
GarbageCollector MXBeans through py4j (local mode: the driver JVM is the
executor), and the heap an operation allocated from the JVM's count of
bytes allocated by all threads.

``NullTracer`` is what untraced runs use: its spans do nothing, so the
untraced timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict


class NullTracer:
    traced = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def patch(self, module, attr: str, make):
        return contextlib.nullcontext()


class Span:
    __slots__ = ("sid", "name", "op_id", "parent", "start", "end", "gc_s", "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid: int, name: str, op_id: int, parent: int | None) -> None:
        self.sid, self.name, self.op_id, self.parent = sid, name, op_id, parent
        self.start = self.end = 0.0
        self.gc_s = 0.0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        elif hi > lo:
            out.append((lo, hi))
    return out


def self_intervals(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The parts of a span's interval that none of its children cover."""
    out, cur = [], span.start
    for lo, hi in _union([(c.start, c.end) for c in children]):
        if lo > cur:
            out.append((cur, min(lo, span.end)))
        cur = max(cur, hi)
    if cur < span.end:
        out.append((cur, span.end))
    return out


class Tracer:
    """Collects spans in memory for one run; ``op()`` opens an operation's
    root span, ``span()`` a child of the innermost open span of the calling
    thread, or of the root span in a thread that has none (pool workers)."""

    traced = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._threads = mf.getThreadMXBean()
        self._alloc_mb: dict[int, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Span | None = None
        self.spans: list[Span] = []

    def _gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _open(self, name: str, op_id: int, parent: int | None):
        sp = Span(next(self._ids), name, op_id, parent)
        stack = self._stack()
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"perfbench-{sp.sid}", name)
        stack.append(sp)
        gc0 = self._gc_seconds()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.gc_s = self._gc_seconds() - gc0
            stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, "")
            with self._lock:
                self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, op_id: int):
        alloc0 = self._threads.getTotalThreadAllocatedBytes()
        with self._open("op", op_id, None) as root:
            self._root = root
            try:
                yield root
            finally:
                self._root = None
        self._alloc_mb[op_id] = (self._threads.getTotalThreadAllocatedBytes() - alloc0) / 2**20
        self._count_spark(op_id)

    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        return self._open(name, parent.op_id, parent.sid)

    @contextlib.contextmanager
    def patch(self, module, attr: str, make):
        """Replace ``module.attr`` by ``make(original)`` inside the block: the
        way to give a span to a layer that another layer calls."""
        inner = getattr(module, attr)
        setattr(module, attr, make(inner))
        try:
            yield
        finally:
            setattr(module, attr, inner)

    def _count_spark(self, op_id: int) -> None:
        """Attribute jobs, stages and tasks to each span of one finished
        operation, through its job group (read after the operation so the
        lookups cost the timed region nothing)."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            if sp.op_id != op_id:
                continue
            for job_id in st.getJobIdsForGroup(f"perfbench-{sp.sid}"):
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                sp.jobs += 1
                for stage_id in info.stageIds:
                    si = st.getStageInfo(stage_id)
                    if si is None:
                        continue
                    sp.stages += 1
                    sp.tasks += si.numTasks
                    sp.failed_tasks += si.numFailedTasks

    def op_summary(self, op_id: int) -> dict[str, float]:
        """Per-layer figures of one operation: summed time per span name,
        self time per layer, and Spark/JVM counts per layer and in total."""
        spans = [s for s in self.spans if s.op_id == op_id]
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        own: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s.name != "op":
                out[s.name] += s.end - s.start
                out[f"{s.layer}.jobs"] += s.jobs
                out[f"{s.layer}.tasks"] += s.tasks
            own[s.layer] += self_intervals(s, kids[s.sid])
            out["spark.jobs"] += s.jobs
            out["spark.stages"] += s.stages
            out["spark.tasks"] += s.tasks
            out["spark.failed_tasks"] += s.failed_tasks
        # a layer's self time is the wall time in which any of its spans ran
        # outside its children: concurrent spans of one layer count once
        for layer, iv in own.items():
            out[f"self.{layer}_s"] = sum(hi - lo for lo, hi in _union(iv))
        root = next(s for s in spans if s.name == "op")
        # GC is a JVM-wide counter: the root span's delta covers every child
        out["jvm.gc_s"] = root.gc_s
        out["jvm.alloc_mb"] = self._alloc_mb[op_id]
        return dict(out)
