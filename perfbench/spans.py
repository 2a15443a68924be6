"""Spans, percentiles and Spark event-log roll-up for the benchmark.

Spans are recorded by the benchmark around its calls into the program
(name, start, end, parent, op id), kept in memory and written out with
the run record. Spark jobs are attributed to the innermost span open at
their submission time: job-group tags set on the benchmark's thread do
not reach the worker threads ``EntityDag.run`` submits from, so time is
the one key every job carries.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ENGINE_KEYS = [
    "jobs", "tasks", "tasks_failed", "stages_retried", "exec_cpu_s", "gc_s",
    "scan_tasks", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
]


# ---------------------------------------------------------------- stats

def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile of ``TAIL_LADDER`` with at least ten samples
    beyond it (nearest rank). Returns (percentile, value, sample count).
    Raises when fewer than 20 samples give no such percentile."""
    s = sorted(values)
    n = len(s)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(round(p * n / 100, 9)))
        if n - rank >= 10:
            return p, s[rank - 1], n
    raise ValueError(f"{n} samples: no percentile has ten samples beyond it")


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    untraced run pays only the context-manager call."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sid = len(self.spans)
        self.spans.append(Span(name, time.time(), math.nan, parent, op, sid))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        kids = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(sp.sid, [])
            if e > sp.start and s < sp.end
        ]
        out[sp.sid] = (sp.end - sp.start) - _union_length(kids)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0.0) + st[sp.sid]
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """Deepest span open at epoch time ``t`` (latest start wins)."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


def idle_time(span: Span, busy: list[tuple[float, float]]) -> float:
    """Part of ``span`` during which none of the ``busy`` intervals is
    active (e.g. no Spark job running: time spent planning)."""
    clipped = [
        (max(s, span.start), min(e, span.end))
        for s, e in busy
        if e > span.start and s < span.end
    ]
    return (span.end - span.start) - _union_length(clipped)


# ------------------------------------------------------- event-log roll-up

@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stages: list[int]
    engine: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(ENGINE_KEYS, 0.0) | {"jobs": 1.0}
    )


def parse_event_log(lines) -> dict[int, Job]:
    """Spark event-log JSON lines -> jobs with their task metrics summed.
    Times are epoch seconds. A stage attempt above 0 counts as a retry."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            stages = list(ev.get("Stage IDs", []))
            jobs[jid] = Job(jid, ev["Submission Time"] / 1000, math.nan, stages)
            for s in stages:
                stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            jid = stage_job.get(info["Stage ID"])
            if jid is not None and info.get("Stage Attempt ID", 0) > 0:
                jobs[jid].engine["stages_retried"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            eng = jobs[jid].engine
            eng["tasks"] += 1
            if ev.get("Task Info", {}).get("Failed"):
                eng["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            eng["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            eng["gc_s"] += m.get("JVM GC Time", 0) / 1000
            eng["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            scanned = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            if scanned:
                eng["scan_tasks"] += 1
                eng["scan_bytes"] += scanned
            rd = m.get("Shuffle Read Metrics") or {}
            eng["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            eng["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    return jobs


def attribute_jobs(spans: list[Span], jobs: dict[int, Job], key=lambda sp: sp.name):
    """Roll job metrics up by ``key`` of the innermost span open at each
    job's submission. Jobs outside every span go to ``unattributed``;
    jobs whose span maps to a None key are left out."""
    out: dict[str, dict[str, float]] = {}
    for job in jobs.values():
        sp = innermost(spans, job.submit)
        name = "unattributed" if sp is None else key(sp)
        if name is None:
            continue
        acc = out.setdefault(name, dict.fromkeys(ENGINE_KEYS, 0.0))
        for k, v in job.engine.items():
            acc[k] += v
    return out


def job_intervals(jobs: dict[int, Job]) -> list[tuple[float, float]]:
    return [(j.submit, j.end) for j in jobs.values() if not math.isnan(j.end)]
