"""Closed-loop runner, process memory readings and the result line.

One client runs whole cycles of a workload's operations back to back
until the timed operations have used the run's seconds. Each
operation's output is checked after its timer stops; a wrong output or
an exception counts as a failed operation.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from typing import Callable, Protocol

# end-to-end metrics every workload reports, name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "ops_per_s": "1/s",
}

# per-layer metrics every workload reports in a traced run, name -> unit
COMMON_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.worker_peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}

# the counter set of a span S, as S.<counter>
SPAN_COUNTERS = {
    "s_p50": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "bytes",
}

Check = Callable[[], bool]
Op = Callable[[], Check]


class Workload(Protocol):
    LAYER: dict[str, str]  # per-layer metric name -> unit
    WARMUP_CYCLES: int  # untimed cycles in set-up
    MIN_CYCLES: int  # timed cycles a run makes even when they outlast its seconds

    def generate(self) -> None:
        """Write the run's inputs and compute the expected outputs."""

    def start(self, spark, tracer) -> None:
        """Set-up after the session is up: index builds, span wrappers."""

    def cycle(self) -> list[tuple[str, Op]]:
        """One round of the workload's operations: (kind, op) pairs. An
        op runs the timed work and returns a check of its output."""

    def layer_metrics(self, tracer) -> dict[str, float]:
        """Per-layer values from the traced operations."""


@dataclass
class Sample:
    kind: str
    wall: float
    ok: bool
    traced: bool


def run_op(kind: str, op: Op, tracer, traced: bool) -> Sample:
    ok = False
    with tracer.operation(traced):
        t0 = time.perf_counter()
        try:
            check = op()
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            check = None
        wall = time.perf_counter() - t0
    if check is not None:
        try:
            ok = bool(check())
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
    if not ok:
        print(f"perfbench: {kind} operation failed its output check", file=sys.stderr)
    return Sample(kind, wall, ok, traced)


def closed_loop(workload: Workload, seconds: float, tracer, trace: bool) -> list[Sample]:
    """Whole cycles until the timed walls reach ``seconds``, and at least
    the workload's MIN_CYCLES. A traced run alternates untraced and
    traced cycles, untraced first, and runs at least three, so a traced
    cycle has untraced neighbours on both sides (see `trace_overhead`)."""
    samples: list[Sample] = []
    busy, n = 0.0, 0
    while busy < seconds or n < max(workload.MIN_CYCLES, 3 if trace else 1):
        traced = trace and n % 2 == 1
        for kind, op in workload.cycle():
            s = run_op(kind, op, tracer, traced)
            samples.append(s)
            busy += s.wall
        n += 1
    return samples


def trace_overhead(samples: list[Sample]) -> float:
    """Traced over untraced wall, from per-kind medians, minus one.

    Inside an operation's timer tracing adds only span bookkeeping:
    Spark's counters are read after the timer stops. Neighbouring cycles
    differ by more than that: later drops meet a larger lake, and a
    process still warming up gets faster. With untraced cycles on both
    sides of a traced one, the untraced median is their mean, so a
    steady drift from cycle to cycle cancels; what does not cancel is
    the drift's curvature and run-to-run noise."""
    kinds = {s.kind for s in samples}
    on = off = 0.0
    for k in kinds:
        t = [s.wall for s in samples if s.kind == k and s.traced]
        u = [s.wall for s in samples if s.kind == k and not s.traced]
        if t and u:
            on += statistics.median(t)
            off += statistics.median(u)
    return on / off - 1.0 if off else 0.0


def self_time_report(samples: list[Sample], tracer, overhead: float) -> list[str]:
    """One line per traced operation: the sum of its spans' self-times
    against the untraced median wall of its kind, as a share of the
    latter, beside the run's tracing overhead."""
    lines = []
    traced = [s for s in samples if s.traced]
    for op, s in enumerate(traced):
        untraced = median_or_zero(u.wall for u in samples if u.kind == s.kind and not u.traced)
        self_s = tracer.self_time_sum(op)
        share = self_s / untraced - 1.0 if untraced else 0.0
        lines.append(
            f"{s.kind}: span self-times {self_s:.3f}s, untraced {untraced:.3f}s,"
            f" {share:+.3f} against trace.overhead {overhead:+.3f}"
        )
    return lines


def kind_median(samples: list[Sample]) -> float:
    """Each operation kind's median wall, averaged over the kinds: one
    median over a round-robin mix would jump between neighbouring kinds."""
    kinds = dict.fromkeys(s.kind for s in samples)
    return statistics.fmean(median_or_zero(s.wall for s in samples if s.kind == k) for k in kinds)


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# -- process memory (psutil is not available; /proc is) ---------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, frontier = _children(), [], [pid]
    while frontier:
        for c in kids.get(frontier.pop(), []):
            out.append(c)
            frontier.append(c)
    return out


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Peak resident set (VmHWM) of the engine JVM and of its Python
    workers. Workers come and go, so they are polled."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.worker_peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        # Python workers only: a child the JVM forks for a shell command
        # reports the JVM's own high-water mark until it execs
        for pid in descendants(self.jvm_pid):
            if _comm(pid).startswith("python"):
                self.worker_peak_kb = max(self.worker_peak_kb, _status_kb(pid, "VmHWM"))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._poll()

    def jvm_peak_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM") / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._poll()


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
