"""Spans around the calls into the engine's layers, plus Spark's own
per-job and per-stage counters, kept in memory for one run.

A span is opened from the benchmark's own files: either around a call
the workload makes, or by replacing a module attribute with a wrapper
at the place the engine's caller looks it up (for example
``etl.pipeline.list_raw_files``). Spark jobs are attributed to spans by
submission time, because job groups do not reach the engine's worker
threads. Counters come from the application status store, which Spark
fills even with the UI disabled, after the listener bus has drained.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    op: int


@dataclass
class Stage:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    complete: float
    stages: list[int] = field(default_factory=list)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute_jobs(spans: list[Span], jobs: list[Job], slack: float = 0.002) -> dict[int, list[Job]]:
    """Span index -> jobs submitted while it was the innermost open span.
    ``slack`` absorbs the status store's millisecond timestamps. Jobs
    submitted outside every span are left out."""
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        best, best_len = None, None
        for i, s in enumerate(spans):
            if s.start - slack <= job.submit <= s.end + slack:
                length = s.end - s.start
                if best is None or length < best_len:
                    best, best_len = i, length
        if best is not None:
            out[best].append(job)
    return out


class SparkCounters:
    """Reads finished jobs and their stages from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._seen = -1
        self.stages: dict[int, Stage] = {}

    def skip(self) -> None:
        """Forget every job submitted so far without reading it."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._seen = max([self._seen, *self._sc.statusTracker().getJobIdsForGroup(None)])

    def new_jobs(self) -> list[Job]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        ids = sorted(j for j in self._sc.statusTracker().getJobIdsForGroup(None) if j > self._seen)
        jobs = []
        for jid in ids:
            data = store.job(jid)
            if not data.completionTime().isDefined():
                continue  # still running: read it next time
            self._seen = max(self._seen, jid)
            stage_ids = [data.stageIds().apply(i) for i in range(data.stageIds().size())]
            jobs.append(
                Job(
                    jid,
                    data.submissionTime().get().getTime() / 1000.0,
                    data.completionTime().get().getTime() / 1000.0,
                    stage_ids,
                )
            )
            for sid in stage_ids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(store, sid)
        return jobs

    @staticmethod
    def _stage(store, sid: int) -> Stage:
        from py4j.protocol import Py4JJavaError

        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never attempted
            return Stage()
        if s.status().toString() == "SKIPPED":
            return Stage()
        return Stage(
            tasks=s.numCompleteTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_bytes=s.shuffleWriteBytes(),
            input_bytes=s.inputBytes(),
            output_bytes=s.outputBytes(),
        )


class Tracer:
    """Spans of the traced operations of one run, and their counters.

    ``enabled`` toggles recording, so one run can interleave traced and
    untraced operations and measure the tracing overhead."""

    def __init__(self, counters: SparkCounters | None = None):
        self.spans: list[Span] = []
        self.jobs: dict[int, list[Job]] = {}  # span index -> attributed jobs
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.enabled = False
        self.op = -1
        self._counters = counters
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, stack[-1] if stack else None, self.op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[self.op][name] += value

    @property
    def tracing(self) -> bool:
        """Whether this run traces at all (its wrappers are worth installing)."""
        return self._counters is not None

    def replace(self, owner, attr: str, make) -> None:
        """Set ``owner.attr`` to ``make(original)`` until `unwrap_all`."""
        original = getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``on_result(tracer,
        args, result)`` may record counts from the call."""

        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    result = original(*args, **kwargs)
                if on_result is not None and self.enabled:
                    on_result(self, args, result)
                return result

            return wrapper

        self.replace(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    @contextmanager
    def operation(self, traced: bool):
        """One operation, as the root span ``op``; its Spark jobs are
        read and attributed when it ends."""
        self.enabled = traced
        if traced:
            self.op += 1
            self._counters.skip()  # jobs of untraced work before it
        first = len(self.spans)
        try:
            with self.span("op"):
                yield
        finally:
            self.enabled = False
            if traced:
                mine = list(range(first, len(self.spans)))
                found = attribute_jobs([self.spans[i] for i in mine], self._counters.new_jobs())
                for local, jobs in found.items():
                    self.jobs[mine[local]] = jobs

    # -- per-layer aggregation ----------------------------------------------

    def _subtree(self, idx: int) -> list[int]:
        out, frontier = [idx], [idx]
        while frontier:
            p = frontier.pop()
            kids = [i for i, s in enumerate(self.spans) if s.parent == p]
            out += kids
            frontier += kids
        return out

    def span_counters(self, idx: int) -> dict[str, float]:
        """Counters of one span, inclusive of its children's jobs."""
        s = self.spans[idx]
        jobs = [j for i in self._subtree(idx) for j in self.jobs.get(i, [])]
        stage_ids = {sid for j in jobs for sid in j.stages}
        stages = [self._counters.stages.get(sid, Stage()) for sid in stage_ids] if self._counters else []
        covered = union_length([(max(j.submit, s.start), min(j.complete, s.end)) for j in jobs])
        return {
            "s": s.end - s.start,
            "driver_s": max(0.0, (s.end - s.start) - covered),
            "jobs": len(jobs),
            "tasks": sum(st.tasks for st in stages),
            "executor_run_s": sum(st.run_s for st in stages),
            "executor_cpu_s": sum(st.cpu_s for st in stages),
            "gc_s": sum(st.gc_s for st in stages),
            "shuffle_bytes": sum(st.shuffle_bytes for st in stages),
            "input_bytes": sum(st.input_bytes for st in stages),
            "output_bytes": sum(st.output_bytes for st in stages),
        }

    def _inside(self, idx: int, ancestor: str) -> bool:
        p = self.spans[idx].parent
        while p is not None:
            if self.spans[p].name == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def self_time_sum(self, op: int) -> float:
        """Sum of the self-times (wall minus the children's walls) of
        the spans of traced operation ``op`` opened on its own thread:
        by construction its root span's wall."""
        idx = [i for i, s in enumerate(self.spans) if s.op == op]
        under: dict[int, float] = defaultdict(float)
        for i in idx:
            p = self.spans[i].parent
            if p is not None:
                under[p] += self.spans[i].end - self.spans[i].start
        return sum(
            self.spans[i].end - self.spans[i].start - under[i]
            for i in idx
            if self.spans[i].parent is not None or self.spans[i].name == "op"
        )

    def per_op(self, name: str, within: str | None = None) -> list[dict[str, float]]:
        """Counters of span ``name`` summed within each traced operation
        in which it ran, one dict per such operation; with ``within``,
        only the spans opened inside a span of that name."""
        by_op: dict[int, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.name == name and (within is None or self._inside(i, within)):
                acc = by_op.setdefault(s.op, defaultdict(float))
                for k, v in self.span_counters(i).items():
                    acc[k] += v
        return [by_op[o] for o in sorted(by_op)]

    def median(self, name: str, counter: str, within: str | None = None) -> float:
        vals = [d[counter] for d in self.per_op(name, within)]
        return statistics.median(vals) if vals else 0.0

    def median_count(self, name: str) -> float:
        vals = [c[name] for c in self.counts.values() if name in c]
        return statistics.median(vals) if vals else 0.0

    def total_count(self, name: str) -> float:
        return sum(c.get(name, 0.0) for c in self.counts.values())
