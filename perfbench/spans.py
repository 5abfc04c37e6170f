"""Spans recorded around the benchmark's own calls, and the Spark event-log
reader that attributes jobs and task metrics to them.

Spans live in memory and are only read once the run is over. The program
under test is not instrumented: every span wraps one call from the
benchmark into one module of the package, and Spark jobs are attributed to
the innermost span whose time window contains the job's submission (jobs
submitted from the engine's pool threads carry no description, so the time
window is the only reliable key).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    call: int  # index of the benchmark call the span belongs to (0 = cold)
    parent: str | None
    t0: float  # epoch seconds, comparable with the event log's milliseconds
    t1: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans when enabled; a disabled tracer only yields."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.call = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, self.call, parent, time.time())
        self._stack.append(s)
        try:
            yield
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.spans.append(s)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.call == span.call and s.parent == span.name]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's wall time minus the part of it its children cover."""
    clipped = [(max(c.t0, span.t0), min(c.t1, span.t1)) for c in children]
    return span.wall - union_length([iv for iv in clipped if iv[1] > iv[0]])


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    stages: list[int]
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)

    @classmethod
    def read(cls, path: Path) -> "EventLog":
        """Parse an uncompressed, non-rolled Spark event log."""
        jobs: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = Job(jid, ev["Submission Time"] / 1e3, 0.0, ev["Stage IDs"])
                    for sid in ev["Stage IDs"]:
                        # a shuffle stage shared by later jobs runs in the
                        # first one; the later ones skip it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        mb = 1024.0 * 1024.0
        for ev in tasks:
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.cpu_s += m["Executor CPU Time"] / 1e9
            job.run_s += m["Executor Run Time"] / 1e3
            job.gc_s += m["JVM GC Time"] / 1e3
            job.spill_mb += m["Disk Bytes Spilled"] / mb
            job.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / mb
            job.input_mb += m["Input Metrics"]["Bytes Read"] / mb
        return cls(sorted(jobs.values(), key=lambda j: j.submit))

    def jobs_in(self, span: Span) -> list[Job]:
        # event-log times have millisecond resolution
        return [j for j in self.jobs if span.t0 - 1e-3 <= j.submit <= span.t1 + 1e-3]


def spark_metrics(span: Span, jobs: list[Job]) -> dict[str, float]:
    """The per-call Spark runtime metrics of one span."""
    busy = union_length([(max(j.submit, span.t0), min(j.end or span.t1, span.t1)) for j in jobs])
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "driver_gap_s": max(span.wall - busy, 0.0),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "executor_run_s": sum(j.run_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "spill_mb": sum(j.spill_mb for j in jobs),
        "shuffle_write_mb": sum(j.shuffle_write_mb for j in jobs),
        "input_mb": sum(j.input_mb for j in jobs),
    }
