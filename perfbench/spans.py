"""In-memory spans recorded around calls into fabrix_spark layers.

A span has a name, start, end, parent span and the id of the operation
it belongs to. Spans are kept in memory and written out once, when the
benchmark ends. The tracer also tags every Spark job an operation runs
with a job group, so the operation's jobs, tasks and failed tasks can be
read back from ``SparkContext.statusTracker()``.

``NullTracer`` has the same surface and records nothing; the untraced
run uses it so that tracing costs nothing there.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def op(self, kind: str):
        yield None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        yield None

    def add_stream_jobs(self, group: str) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and per-operation Spark job/task counts.

    ``op`` opens the top-level span of one closed-loop operation and
    sets a Spark job group named after it; ``span`` opens a child span.
    Spans opened on another thread (the foreachBatch callback of a
    streaming query runs on a py4j callback thread) name their parent
    explicitly. ``overhead_s`` accumulates the time spent in the
    tracer's own bookkeeping, including the statusTracker reads."""

    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.op_counts: dict[int, dict] = {}
        self._op_id: int | None = None
        self._groups: list[str] = []
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        t0 = time.perf_counter()
        st = self._stack()
        sp = Span(
            next(self._ids),
            name,
            self._op_id or 0,
            parent if parent is not None else (st[-1] if st else None),
            0.0,
        )
        st.append(sp.id)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - sp.end)

    @contextlib.contextmanager
    def op(self, kind: str):
        t0 = time.perf_counter()
        op_id = next(self._ids)
        group = f"perfbench-op-{op_id}"
        self._op_id = op_id
        self._groups = [group]
        self._sc.setJobGroup(group, kind)
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(f"op.{kind}") as sp:
                yield sp
        finally:
            t1 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_counts[op_id] = self._count_jobs(self._groups)
            self._op_id = None
            self.overhead_s += time.perf_counter() - t1

    def add_stream_jobs(self, group: str) -> None:
        """Streaming queries run their jobs under their own job group
        (the query's run id); count those for the current operation."""
        self._groups.append(group)

    def _count_jobs(self, groups: list[str]) -> dict:
        st = self._sc.statusTracker()
        jobs = tasks = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it covered by child
        spans (children of one span never overlap: each layer call
        runs to completion before the next starts)."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.dur
        return {sp.id: sp.dur - child.get(sp.id, 0.0) for sp in self.spans}

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def self_p50(self, name: str) -> float:
        """Median self time of the spans called ``name`` (0 if the
        workload never entered that layer)."""
        selfs = self.self_times()
        vals = [selfs[sp.id] for sp in self.by_name(name)]
        return statistics.median(vals) if vals else 0.0

    def session_per_op(self) -> dict[str, float]:
        if not self.op_counts:
            return {"jobs": 0.0, "tasks": 0.0, "failed_tasks": 0.0}
        n = len(self.op_counts)
        return {
            k: sum(c[k] for c in self.op_counts.values()) / n
            for k in ("jobs", "tasks", "failed_tasks")
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")
