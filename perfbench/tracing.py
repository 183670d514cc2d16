"""Spans around calls into psweep_spark, and Spark jobs attributed to them.

Spans are recorded only while a :class:`Tracer` is enabled.  They live
in memory (name, start, end, parent, op id) and are written out once
when the run ends.  Library functions that the program calls internally
(``Database.append`` inside ``run()``) are traced by wrapping them in
place with :meth:`Tracer.patch`; the wrappers live here, not in the
library, and are removed by :meth:`Tracer.unpatch`.

Spark jobs come from the SparkContext status store after each traced
op: every job is attributed to the innermost span open at its
submission time, keeping its call site.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Job:
    job_id: int
    call_site: str
    submitted: float
    task_cpu_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    span: int | None = None
    op: int = -1


@dataclass
class Tracer:
    enabled: bool = False
    op: int = -1
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span
        ``name`` around each call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch_context(self, owner: object, attr: str, name: str) -> None:
        """Like :meth:`patch` for a method returning a context manager;
        the span covers the body of the ``with`` block (e.g. the time a
        lock is held, not the time spent acquiring it)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with orig(*args, **kwargs), tracer.span(name):
                yield

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def op_spans(self, op: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "jobs": [asdict(j) for j in self.jobs],
                },
                fh,
            )


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of span ``idx`` minus the part of it covered by its
    children (overlapping children are counted once)."""
    s = spans[idx]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans
        if c.parent == idx
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
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
    return (s.end - s.start) - covered


def innermost(spans: list[Span], candidates: list[int], t: float) -> int | None:
    """Index of the innermost span among ``candidates`` open at time
    ``t``: the one that started last (nested spans start after their
    parents).  None if no candidate covers ``t``."""
    best = None
    for i in candidates:
        s = spans[i]
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


class SparkJobs:
    """Reads jobs finished since the last call from the SparkContext
    status store (works with the Spark UI disabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._seen = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self._sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def new_jobs(self) -> list[Job]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jl = store.jobsList(None)
        out = []
        for i in range(jl.size()):
            j = jl.apply(i)
            if j.jobId() <= self._seen:
                continue
            sub = j.submissionTime()
            job = Job(
                j.jobId(),
                j.name(),
                sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            )
            sids = j.stageIds()
            for k in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(k))
                job.task_cpu_s += st.executorCpuTime() / 1e9
                job.input_bytes += st.inputBytes()
                job.input_records += st.inputRecords()
                job.shuffle_write_bytes += st.shuffleWriteBytes()
            out.append(job)
        if out:
            self._seen = max(j.job_id for j in out)
        return sorted(out, key=lambda j: j.job_id)


def attribute(tracer: Tracer, op: int, jobs: list[Job]) -> None:
    """Attach ``jobs`` to the innermost span of ``op`` open at their
    submission and keep them on the tracer."""
    cands = tracer.op_spans(op)
    for j in jobs:
        j.op = op
        j.span = innermost(tracer.spans, cands, j.submitted)
    tracer.jobs.extend(jobs)
