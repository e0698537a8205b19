"""Spans around the benchmark's calls into the package, and Spark's status
store read back per job description.

A span records (name, start, end, parent, iteration). The benchmark opens
one around each call it makes into a module of the package, so a span's
name is ``<module>.<function>``. Spans are kept in memory and written out
at the end; self time (duration minus the part covered by child spans) is
derived from them afterwards.

When tracing is on, every call is also tagged with
``setJobDescription("<workload>:<request>:<phase>")`` so the jobs, stages
and SQL executions it launches can be found in the status store, which
Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import contextlib
import math
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int
    index: int
    request: str


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index -> duration minus the union of its children's intervals
    (clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.index: (s.end - s.start) - union_length(children.get(s.index, []), s.start, s.end)
        for s in spans
    }


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_vals: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile and its 1-based rank."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[rank - 1], rank


def tail(values: list[float]) -> tuple[float, float | None]:
    """(value, percentile): the highest percentile of TAIL_LADDER with at
    least ten samples beyond it. With fewer than 20 samples not even the
    median qualifies; the slowest sample is returned, with percentile None."""
    vals = sorted(values)
    for pct in TAIL_LADDER:
        v, rank = nearest_rank(vals, pct)
        if len(vals) - rank >= 10:
            return v, pct
    return vals[-1], None


class Tracer:
    """Records spans and tags Spark jobs; a no-op while ``enabled`` is
    False, so the same workload code runs traced and untraced."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._descs: list[str] = []
        self._next_index = 0
        self.bookkeeping: dict[int, float] = {}

    @contextlib.contextmanager
    def span(self, name: str, request: str = "-", phase: str = "author"):
        if not self.enabled:
            yield
            return
        entered = time.perf_counter()
        idx = self._next_index
        self._next_index += 1
        parent = self._stack[-1] if self._stack else None
        desc = f"{self.workload}:{request}:{phase}"
        self.sc.setJobDescription(desc)
        self._stack.append(idx)
        self._descs.append(desc)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._descs.pop()
            self.spans.append(Span(name, start, end, parent, self.iteration, idx, request))
            self.sc.setJobDescription(self._descs[-1] if self._descs else None)
            # the tracer's own time inside the traced region
            self.bookkeeping[self.iteration] = (
                self.bookkeeping.get(self.iteration, 0.0)
                + (start - entered) + (time.perf_counter() - end))


# ---------------------------------------------------------------- status store

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL-metric value ('8 ms', '41.2 KiB', '672' or the
    'total (min, med, max ...)' form) as seconds, bytes or a count."""
    if not text:
        return 0.0
    last = text.strip().split("\n")[-1]
    m = _VALUE.match(last)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _is_scan(n: str) -> bool:
    return n.startswith("Scan")


def _is_python(n: str) -> bool:
    return "Python" in n or "Pandas" in n or "Arrow" in n


# SQL-metric totals per operator kind: (key, node-name test, metric name)
OP_METRICS = (
    ("op.scan_time_s", _is_scan, "scan time"),
    ("io.scan_bytes", _is_scan, "size of files read"),
    ("op.exchange_bytes", lambda n: n.startswith("Exchange"), "shuffle bytes written"),
    ("op.agg_time_s", lambda n: "Aggregate" in n, "time in aggregation build"),
    ("op.sort_time_s", lambda n: n == "Sort", "sort time"),
    ("op.python_run_s", _is_python, "time to run Python workers"),
    ("op.python_start_s", _is_python, "time to start Python workers"),
    ("op.python_init_s", _is_python, "time to initialize Python workers"),
)


@dataclass
class StoreCursor:
    """Ids already read, so each collection sees only new work."""

    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    executions: set = field(default_factory=set)


def _opt(o):
    return o.get() if o.isDefined() else None


def collect(spark, cursor: StoreCursor) -> dict[str, list]:
    """Jobs, stages and SQL executions finished since the last call, as
    plain dicts keyed by their description."""
    sc = spark.sparkContext
    gw = sc._gateway
    # The stores are fed by the asynchronous listener bus: drain it first,
    # or the last action's stages and execution may be missing.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs, stages, execs = [], [], []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        if j.jobId() in cursor.jobs:
            continue
        cursor.jobs.add(j.jobId())
        jobs.append({"id": j.jobId(), "desc": _opt(j.description()),
                     "status": j.status().toString()})
    sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(sl.size()):
        s = sl.apply(i)
        key = (s.stageId(), s.attemptId())
        status = s.status().toString()
        if key in cursor.stages or status not in ("COMPLETE", "FAILED"):
            continue
        cursor.stages.add(key)
        sub, comp = _opt(s.submissionTime()), _opt(s.completionTime())
        stages.append({
            "desc": _opt(s.description()),
            "tasks": s.numCompleteTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.diskBytesSpilled(),
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": comp.getTime() / 1000.0 if comp is not None else None,
        })
    sql = spark._jsparkSession.sharedState().statusStore()
    el = sql.executionsList()
    for i in range(el.size()):
        e = el.apply(i)
        eid = e.executionId()
        if eid in cursor.executions or not e.completionTime().isDefined():
            continue
        cursor.executions.add(eid)
        values = sql.executionMetrics(eid)
        totals = {k: 0.0 for k, _, _ in OP_METRICS}
        nodes = sql.planGraph(eid).allNodes()
        for n_i in range(nodes.size()):
            node = nodes.apply(n_i)
            name = node.name()
            metrics = node.metrics()
            for m_i in range(metrics.size()):
                m = metrics.apply(m_i)
                for key, test, metric_name in OP_METRICS:
                    if m.name() == metric_name and test(name):
                        totals[key] += parse_metric(_opt(values.get(m.accumulatorId())))
        execs.append({"id": eid, "desc": e.description(), **totals})
    return {"jobs": jobs, "stages": stages, "executions": execs}
