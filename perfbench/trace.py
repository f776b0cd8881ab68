"""Spans, self-time arithmetic and the Spark event-log summary.

Everything here is pure Python except ``Tracer``'s optional job-group
tagging, which only calls ``SparkContext.setJobGroup``.
"""
from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    trace_id: str
    attrs: Dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[Tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """span_id -> duration minus the part of it its direct children
    cover (overlapping children are counted once)."""
    kids: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(kids.get(s.span_id, ()),
                                            s.start, s.end)
            for s in spans}


def self_time_by_name(spans: Sequence[Span]) -> Dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: Dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


class Tracer:
    """In-memory span recorder. Spans nest by call order (one thread);
    with a SparkContext, each span also tags the jobs it starts with its
    name as the Spark job group, so event-log stages map to layers."""

    def __init__(self, trace_id: str, sc=None) -> None:
        self.trace_id = trace_id
        self.sc = sc
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.monotonic(), 0.0,
                 parent.span_id if parent else None, self.trace_id,
                 dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.name, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def tail_percentile(samples: Sequence[float],
                    ladder: Sequence[float] = (0.999, 0.99, 0.9)
                    ) -> Optional[Tuple[float, float]]:
    """(p, value) for the highest percentile in ``ladder`` with at least
    ten samples strictly beyond it; None when no rung qualifies."""
    xs = sorted(samples)
    n = len(xs)
    for p in ladder:
        # nearest-rank percentile: the value at rank ceil(p * n)
        rank = max(1, math.ceil(p * n))
        value = xs[rank - 1]
        if sum(1 for x in xs if x > value) >= 10:
            return p, value
    return None


def prefix_deltas(prefix_times: Sequence[Tuple[str, float]]
                  ) -> Dict[str, float]:
    """Layer self times from cumulative-prefix wall times: the first
    prefix is its own time, every later layer is its prefix minus the
    previous one. Deltas are reported as measured (noise can make one
    negative); their sum telescopes to the last prefix."""
    out: Dict[str, float] = {}
    prev = 0.0
    for name, t in prefix_times:
        out[name] = t - prev
        prev = t
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_ACCUMS = {
    "time to run Python workers": "py_ms",
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
}


@dataclass
class StageStats:
    stage_id: int
    group: Optional[str] = None
    task_ms: List[float] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    py_ms: float = 0.0
    py_in_bytes: float = 0.0
    py_out_bytes: float = 0.0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class EventLog:
    stages: Dict[int, StageStats]
    jobs_by_group: Dict[Optional[str], List[int]]
    job_sql: Dict[int, Optional[str]]
    sql_plans: Dict[str, str]

    def jobs(self, groups: Iterable[str]) -> List[int]:
        return [j for g in groups for j in self.jobs_by_group.get(g, [])]


def read_event_log(path: str) -> EventLog:
    """Stage counters, job groups and SQL plans from one plain
    JSON-lines Spark event log."""
    stages: Dict[int, StageStats] = {}
    jobs: Dict[Optional[str], List[int]] = {}
    job_sql: Dict[int, Optional[str]] = {}
    sql_plans: Dict[str, str] = {}
    stage_group: Dict[int, Optional[str]] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                grp = props.get("spark.jobGroup.id")
                jobs.setdefault(grp, []).append(e["Job ID"])
                job_sql[e["Job ID"]] = props.get("spark.sql.execution.id")
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_plans[str(e["executionId"])] = e.get(
                    "physicalPlanDescription", "")
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                st = stages.setdefault(sid, StageStats(sid))
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"],
                                       StageStats(info["Stage ID"]))
                for acc in info.get("Accumulables", []):
                    key = _PY_ACCUMS.get(acc.get("Name"))
                    if key:
                        setattr(st, key, getattr(st, key) + _num(
                            acc.get("Value")))
    for sid, st in stages.items():
        st.group = stage_group.get(sid)
    return EventLog(stages, jobs, job_sql, sql_plans)


def group_totals(log: EventLog, group: str) -> Dict:
    """Summed stage counters of one job group, plus the slowest-over-
    median task ratio of its last stage with more than one task."""
    mine = sorted((s for s in log.stages.values() if s.group == group),
                  key=lambda s: s.stage_id)
    out = {
        "shuffle_mb": sum(s.shuffle_write_bytes for s in mine) / 1e6,
        "fetch_wait_s": sum(s.fetch_wait_ms for s in mine) / 1e3,
        "py_s": sum(s.py_ms for s in mine) / 1e3,
        "py_in_mb": sum(s.py_in_bytes for s in mine) / 1e6,
        "py_out_mb": sum(s.py_out_bytes for s in mine) / 1e6,
        "task_skew": 1.0,
    }
    multi = [s for s in mine if len(s.task_ms) > 1]
    if multi:
        ts = multi[-1].task_ms
        med = statistics.median(ts)
        out["task_skew"] = max(ts) / med if med > 0 else 1.0
    return out
