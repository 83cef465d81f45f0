"""Spans and a Spark job ledger, recorded from outside the program.

``Tracer.wrap`` replaces a function at its module (or class) attribute
with a wrapper that records a span: name, start, end, parent span and run
id, plus the range of Spark job ids submitted while it was open. Job ids
come from the DAG scheduler's counter; the stages and tasks of those jobs
are read from the status tracker once an operation has finished
(``harvest``), so the per-span bookkeeping adds no Spark job and no wait
inside the timed region. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    job0: int = 0
    job1: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s


def next_job_id(spark) -> int:
    if spark is None:
        return 0
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class Tracer:
    def __init__(self):
        self.spark = None
        self.run = ""
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._harvested = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def open(self, name: str) -> int:
        j = next_job_id(self.spark)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               run=self.run, job0=j))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.job1 = next_job_id(self.spark)
        self._stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.seconds
        return span

    def span(self, name: str, fn, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` by a recording wrapper. ``before(bound
        args)`` runs before the span opens and its result is passed to
        ``after(span, state, result)`` once it has closed, so measuring
        side effects (files written, rows appended) is not timed."""
        fn = getattr(owner, attr)
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = before(sig.bind(*args, **kwargs)) if before else None
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                span = self.close(idx)
            if after:
                after(span, state, result)
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def harvest(self) -> None:
        """Fill in jobs, stages and tasks of every span closed since the
        last harvest. Waits for the listener bus to drain first, so the
        status tracker has seen every job those spans submitted."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = sc.statusTracker()
        for span in self.spans[self._harvested:]:
            stages, tasks = set(), 0
            for jid in range(span.job0, span.job1):
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if sid not in stages and st and st.numCompletedTasks:
                        stages.add(sid)
                        tasks += st.numCompletedTasks
            span.jobs = span.job1 - span.job0
            span.stages, span.tasks = len(stages), tasks
        self._harvested = len(self.spans)

    # -- reading -----------------------------------------------------------
    def ledger(self, run: str) -> list[tuple[str, int, int, int]]:
        return [(s.name, s.jobs, s.stages, s.tasks)
                for s in self.spans if s.run == run]

    def by_name(self, runs: set[str]) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.run in runs:
                out[s.name].append(s)
        return out


def summarize(spans: list[Span]) -> dict[str, float]:
    """Per-call figures of one span name: median inclusive and self
    seconds, mean jobs / stages / tasks, and the call count."""
    n = len(spans)
    return {
        "s": statistics.median(s.seconds for s in spans),
        "self_s": statistics.median(s.self_s for s in spans),
        "jobs": sum(s.jobs for s in spans) / n,
        "stages": sum(s.stages for s in spans) / n,
        "tasks": sum(s.tasks for s in spans) / n,
        "calls": n,
    }
