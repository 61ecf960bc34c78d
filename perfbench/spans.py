"""Spans, layer wrappers and the statistics the benchmark reports.

A span records one call into a layer: name, start, end, parent span and
op id. Spans stay in memory and are written out when the run ends. Each
span runs under its own Spark job group, so the jobs a layer fires are
attributed to the innermost span that was open when they started.

Layer wrappers rebind the module (or class) attributes that callers
resolve at call time; the untraced run installs none of them.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = math.nan
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op if op is not None else (parent.op if parent else None),
                 parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Rebind ``owner.attr`` to a wrapper that opens span ``name``."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original))

    def wrap_everywhere(self, owner, attr: str, name: str, package: str) -> None:
        """Wrap ``owner.attr`` and every module-level alias of it that a
        ``from ... import`` left in ``package``'s loaded modules."""
        original = getattr(owner, attr)
        self.wrap(owner, attr, name)
        traced = getattr(owner, attr)
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(package):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, traced)
                    self._undo.append((mod, key, original))

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered(kids[s.id], s.start, s.end) for s in spans}


TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(samples: list[float], beyond: int = 10) -> dict | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``beyond`` samples strictly above it (nearest-rank), or None when
    even the median lacks that many."""
    xs = sorted(samples)
    best = None
    for p in TAIL_LADDER:
        if not xs:
            break
        value = xs[max(0, math.ceil(round(p * len(xs) / 100, 6)) - 1)]
        above = sum(1 for x in xs if x > value)
        if above >= beyond:
            best = {"percentile": p, "value": value, "n": len(xs), "beyond": above}
    return best


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


# ---------------------------------------------------------------- Spark side

def job_counters(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, and completed tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: dict[int, int] = {}
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages[sid] = si.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": sum(stages.values())}


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def walk_plan(node, visit) -> None:
    """Visit every physical operator, descending through AQE wrappers and
    query stages; reused exchanges are skipped so nothing counts twice."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        walk_plan(node.executedPlan(), visit)
        return
    if cls.startswith("Reused"):
        return
    if cls.endswith("QueryStageExec"):
        walk_plan(node.plan(), visit)
        return
    visit(cls, node)
    for c in _children(node):
        walk_plan(c, visit)


def count_exchanges(qe) -> int:
    """Exchanges in the plan as planned (AQE's initial plan)."""
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    n = 0

    def visit(cls, _node):
        nonlocal n
        n += cls.endswith("ExchangeExec")

    walk_plan(plan, visit)
    return n


PLAN_METRICS = {
    "scan_bytes": ("filesSize",),
    "shuffle_read_bytes": ("remoteBytesRead", "localBytesRead"),
    "shuffle_write_bytes": ("shuffleBytesWritten",),
    "spill_bytes": ("spillSize",),
    "python_s": ("pythonTotalTime",),
    "python_boot_s": ("pythonBootTime", "pythonInitTime"),
}
_TIME_UNITS = {"nsTiming": 1e-9, "timing": 1e-3}


def plan_metrics(qe) -> dict[str, float]:
    """Sum the SQL metrics of ``PLAN_METRICS`` over the executed (for AQE:
    final) plan. Times are converted to seconds."""
    out = {k: 0 for k in PLAN_METRICS}
    wanted = {m: k for k, names in PLAN_METRICS.items() for m in names}

    def visit(_cls, node):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = wanted.get(kv._1())
            if key is not None:
                m = kv._2()
                out[key] += m.value() * _TIME_UNITS.get(m.metricType(), 1)

    walk_plan(qe.executedPlan(), visit)
    return out
