"""Spans, self time, Spark job-group counters and percentiles.

The benchmark records spans from its own call sites into each engine
layer; nothing inside the engine is instrumented. A span has a name
(``<layer>.<what>``), start, end, parent id and operation id, and is
kept in memory until the run writes them out.

With tracing on, every span that can launch Spark jobs puts them in a
job group of its own, so the Spark status store attributes each job to
exactly one span: the innermost one open when the job ran. Counters are
read per group after the span ends (``group_counters``).
"""

from __future__ import annotations

import math
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Counters read from the status store for each job group.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "task_failures",
)


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = math.nan
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans when enabled; a disabled tracer is a no-op context.

    ``spark`` is optional so the span arithmetic can be used (and
    tested) without a Spark session; without it no counters are read.
    """

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._op = 0
        #: seconds spent on the tracer's own bookkeeping (job groups,
        #: status-store reads): the cost tracing adds to a pass
        self.overhead_s = 0.0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=self._op,
            parent=parent.id if parent else None,
            start=t0,
        )
        self.spans.append(s)
        self._open.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(_group(s.id), name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(_group(parent.id), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = group_counters(self.spark, _group(s.id))
            self.overhead_s += time.perf_counter() - s.end


def _group(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of one job group, read from
    ``statusTracker()`` and the JVM ``AppStatusStore`` (available with
    ``spark.ui.enabled=false``). Skipped stages (shuffle reuse) count
    neither as stages nor as tasks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed asynchronously by the listener bus: drain
    # it so the counts of a just-finished action are complete
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            st = store.lastStageAttempt(stage_id)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_failures"] += st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (the union of the children's intervals,
    clipped to the parent)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


def counters_by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Summed job-group counters per span name. Each job belongs to the
    innermost span open when it ran, so sums never double-count."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s.name, dict.fromkeys(COUNTERS, 0.0))
        for k, v in s.counters.items():
            acc[k] += v
    return out


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``values``. A tail percentile
    (q > 0.5) is None unless at least ten samples lie beyond it: an
    estimate resting on fewer is too noisy to compare between runs. The
    median is reported from any non-empty sample. Linear interpolation
    between order statistics (``statistics.quantiles(...,
    method='inclusive')`` convention)."""
    n = len(values)
    if n == 0 or (q > 0.5 and round(n * (1.0 - q), 9) < 10):
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
