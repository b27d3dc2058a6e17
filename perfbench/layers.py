"""Measurement from outside the package: process tree, Spark status store,
and the span recorder of the traced run.

Nothing here is imported by the package; every number is read either from
`/proc`, from Spark's JVM status store (by job group), or from the
benchmark's own clocks around its calls into the package.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree: driver (this process), the JVM, the Python workers
# ---------------------------------------------------------------------------

def _procs() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own cpu s, reaped-children cpu s)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        own = (int(rest[11]) + int(rest[12])) / _CLK
        reaped = (int(rest[13]) + int(rest[14])) / _CLK
        out[int(d)] = (int(rest[1]), comm, own, reaped)
    return out


def _tree(procs: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    order, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        order.append(pid)
        frontier.extend(kids.get(pid, ()))
    return order


def proc_cpu() -> dict[str, float]:
    """CPU seconds by role. The JVM's reaped children are Python workers;
    the driver's reaped children are the JVM launcher scripts."""
    procs = _procs()
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    me = os.getpid()
    for pid in _tree(procs):
        if pid not in procs:
            continue
        _ppid, comm, own, reaped = procs[pid]
        if pid == me:
            cpu["driver"] += own + reaped
        elif comm == "java":
            cpu["jvm"] += own
            cpu["pyworker"] += reaped
        elif comm.startswith("python"):
            cpu["pyworker"] += own + reaped
        else:
            cpu["driver"] += own + reaped
    return cpu


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree(_procs()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store, read by job group
# ---------------------------------------------------------------------------

def _date_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


@dataclass
class JobInfo:
    job_id: int
    start_ms: float
    end_ms: float
    stage_ids: list[int]


@dataclass
class StageInfo:
    stage_id: int
    start_ms: float
    end_ms: float
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    gc_s: float


class StatusStore:
    """Reads jobs and stages of finished work from the JVM status store.
    Works with the UI disabled. Jobs are looked up by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[JobInfo]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            j = self.store.job(int(jid))
            start = _date_ms(j.submissionTime())
            end = _date_ms(j.completionTime())
            stages = j.stageIds()
            out.append(JobInfo(
                int(jid), start or 0.0, end or start or 0.0,
                [int(stages.apply(i)) for i in range(stages.size())],
            ))
        return out

    def stages(self, stage_ids: set[int]) -> list[StageInfo]:
        """Completed attempts of the given stages (skipped stages have none)."""
        if not stage_ids:
            return []
        jvm = self.sc._jvm
        gw = self.sc._gateway
        seq = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = int(s.stageId())
            if sid not in stage_ids or str(s.status().toString()) != "COMPLETE":
                continue
            start = _date_ms(s.submissionTime()) or 0.0
            out.append(StageInfo(
                sid, start, _date_ms(s.completionTime()) or start,
                int(s.numTasks()),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                int(s.shuffleReadBytes()),
                int(s.shuffleWriteBytes()),
                int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                s.jvmGcTime() / 1e3,
            ))
        return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# ---------------------------------------------------------------------------
# spans of the traced run
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    parent: int | None
    kind: str          # run | stage | call | build | execute | job | spark_stage
    name: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; `spans` is written out when the run ends.
    A disabled tracer still times calls but keeps no spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, kind: str, name: str, **attrs) -> Span:
        span = Span(len(self.spans), self._stack[-1] if self._stack else None,
                    kind, name, time.time() * 1e3, attrs=attrs)
        if self.enabled:
            self.spans.append(span)
            self._stack.append(span.sid)
        return span

    def close(self, span: Span) -> float:
        span.end_ms = time.time() * 1e3
        if self.enabled:
            self._stack.pop()
        return (span.end_ms - span.start_ms) / 1e3

    def child(self, parent: Span, kind: str, name: str, start_ms: float,
              end_ms: float, **attrs) -> Span:
        span = Span(len(self.spans), parent.sid, kind, name, start_ms, end_ms, attrs)
        if self.enabled:
            self.spans.append(span)
        return span

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span kind: a span's duration minus the
        part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            iv = [(c.start_ms, c.end_ms) for c in kids.get(s.sid, ())]
            own = (s.end_ms - s.start_ms) - covered_ms(iv, s.start_ms, s.end_ms)
            out[s.kind] = out.get(s.kind, 0.0) + max(own, 0.0) / 1e3
        return out


def percentile_tail(values: list[float]) -> tuple[str, float]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it; ('max', max) when fewer than 20 samples support even p50."""
    n = len(values)
    ordered = sorted(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", ordered[min(n - 1, int(n * p / 100))]
    return "max", ordered[-1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
