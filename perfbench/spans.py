"""Spans around the benchmark's calls into the engine's layers.

A ``Tracer`` keeps every span in memory: name, start, end, parent span and
the benchmark job it belongs to, plus counts the caller attaches. It reads
only the clock, so untraced runs use it to time the layers.

``JvmTracer`` also runs each span's Spark jobs under a job group of its own
and, after the benchmark job has finished, reads per-stage task counts,
executor run time, shuffle writes and spills for those jobs from the
driver's status store. Jobs are billed to the innermost open span, so a
span's own ("self") counters exclude its children; inclusive counters are
the sum over the subtree.

Spans must end on an action (persist + count, a write, a collect): the
engine returns lazy DataFrames, and work a span leaves unexecuted is billed
to whichever span runs it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: counters every span reports, summed over its subtree
SPAN_COUNTERS = ("jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    job: int
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)  # caller-attached, e.g. supersteps
    own: dict = field(default_factory=dict)  # JVM counters of this span's own jobs

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class Tracer:
    """Clock-only span recorder."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job = 0

    def start_job(self, job: int) -> None:
        self.job = job

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.job, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._enter(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._exit(s, parent)

    def _enter(self, s: Span) -> None:
        pass

    def _exit(self, s: Span, parent: Span | None) -> None:
        pass

    def job_spans(self, job: int) -> list[Span]:
        return [s for s in self.spans if s.job == job]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "job": s.job,
                "start": s.start,
                "end": s.end,
                "counts": s.counts,
                "own": s.own,
            }
            for s in self.spans
        ]


def self_seconds(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = sum(c.seconds for c in spans if c.parent == span.id)
    return span.seconds - kids


def inclusive(span: Span, spans: list[Span]) -> dict:
    """JVM counters of ``span`` summed over its subtree."""
    out = {k: span.own.get(k, 0) for k in SPAN_COUNTERS}
    for c in spans:
        if c.parent == span.id:
            for k, v in inclusive(c, spans).items():
                out[k] += v
    return out


class JvmTracer(Tracer):
    """Tracer that also attributes Spark jobs and stage counters to spans."""

    def __init__(self, spark) -> None:
        super().__init__()
        self._sc = spark.sparkContext

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.id}"

    def _enter(self, s: Span) -> None:
        self._sc.setJobGroup(self._group(s), s.name)

    def _exit(self, s: Span, parent: Span | None) -> None:
        if parent is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(parent), parent.name)

    def collect(self, job: int) -> None:
        """Fill the JVM counters of one finished job's spans."""
        jsc = self._sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for s in self.job_spans(job):
            own = dict.fromkeys(SPAN_COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(self._group(s)):
                own["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    d = store.lastStageAttempt(sid)
                    own["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    own["failed_tasks"] += d.numFailedTasks()
                    own["task_s"] += d.executorRunTime() / 1e3
                    own["shuffle_mb"] += d.shuffleWriteBytes() / 1e6
                    own["spill_mb"] += d.diskBytesSpilled() / 1e6
            s.own = own
