"""Spans around library calls, charged with the Spark work they ran.

A span is opened in the benchmark around each call into a library
module and around the action that forces a lazy frame the call
returned (a child span of that call, so the plan's execution is
charged to the layer that built it). While a request runs, a span
records only wall-clock times and the driver's job counter at its
start and end: with a single client every job started in that
window belongs to the span, including jobs submitted from the
library's own worker threads, which a job group would miss.

``resolve()`` runs after the request's timer has stopped. It waits
for the listener bus to drain, then reads each job's stages from the
status store (``lastStageAttempt``) and charges every executed stage
once, to the innermost span whose window holds the first job that
ran it. It must run before the store's retention (1000 jobs and
1000 stages by default) evicts the request's jobs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ["jobs", "stages", "tasks", "exec_s", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb", "shuffle_read_rows"]


@dataclass
class Span:
    layer: str
    name: str
    request: int | None
    parent: "Span | None"
    job_lo: int
    t0: float
    job_hi: int = 0
    t1: float = 0.0
    failed: bool = False
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    child_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._unresolved: list[Span] = []
        self.request: int | None = None
        # wall time spent on tracing: reading the job counter as spans
        # open and close (inside the timed calls), and resolve() (after)
        self.span_s = 0.0
        self.resolve_s = 0.0
        if enabled:
            self._jsc = spark.sparkContext._jsc.sc()
            self._tracker = spark.sparkContext.statusTracker()
            self._store = self._jsc.statusStore()
            self._next_job = self._job_counter()
            self._charged: set[int] = set()

    def _job_counter(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, name, self.request, parent, self._job_counter(), 0.0)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        self.span_s += s.t0 - t
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.t1 = time.perf_counter()
            s.job_hi = self._job_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            self.spans.append(s)
            self._unresolved.append(s)
            self.span_s += time.perf_counter() - s.t1

    def resolve(self) -> None:
        """Charge the jobs started since the last call to the spans
        that were open when they started; jobs outside every span are
        read too, so their stages are never charged to a later span."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        hi = self._job_counter()
        spans = self._unresolved
        for job in range(self._next_job, hi):
            owner = min(
                (s for s in spans if s.job_lo <= job < s.job_hi),
                key=lambda s: s.job_hi - s.job_lo,
                default=None,
            )
            self._charge_job(job, owner)
        self._next_job = hi
        self._unresolved = []
        self.resolve_s += time.perf_counter() - t0

    def _charge_job(self, job: int, owner: Span | None) -> None:
        info = self._tracker.getJobInfo(job)
        if owner is not None:
            owner.counts["jobs"] += 1
        if info is None:
            return
        for sid in sorted(info.stageIds):
            if sid in self._charged:
                continue
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            self._charged.add(sid)
            if owner is None:
                continue
            c = owner.counts
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            c["exec_s"] += sd.executorRunTime() / 1e3
            c["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            c["spill_mb"] += sd.diskBytesSpilled() / 1e6
            c["shuffle_read_rows"] += sd.shuffleReadRecords()

    def request_counts(self, request: int) -> dict:
        """Summed counters of one request's spans."""
        out = dict.fromkeys(COUNTERS, 0)
        for s in self.spans:
            if s.request == request:
                for k in COUNTERS:
                    out[k] += s.counts[k]
        return out
