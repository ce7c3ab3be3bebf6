"""Span recording, self time, tail percentiles and Spark event-log attribution.

Spans are taken from the benchmark's side of each layer boundary: a traced
run replaces a public function with a timing wrapper at the place its
caller looks the name up (``from x import f`` copies the reference, so the
patch goes on the importing module).  Nothing here runs in an untraced run.
"""

from __future__ import annotations

import importlib
import json
import math
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: Span | None = None
    result: object = None
    kwargs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover.

    Children that ran on pool threads may overlap each other and may
    outlive the parent; only the union of their intervals inside the
    parent's interval is subtracted."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """Highest integer percentile with at least ten samples beyond it.

    Uses the nearest-rank definition: percentile ``p`` of ``n`` sorted
    samples is the one at rank ``ceil(p * n / 100)``.  Returns
    ``(p, value)``, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


class Tracer:
    """Records spans around patched functions.

    A span opened on a thread with no open span of its own (a
    ``ThreadPoolExecutor`` writer, the background text scan) takes the
    innermost open span of the thread that installed the tracer as its
    parent: the benchmark runs one operation at a time, so that span is
    the call that started the thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._owner = threading.get_ident()
        self._owner_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._owner:
            return self._owner_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, kwargs: dict | None = None) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._owner_stack[-1] if self._owner_stack else None
        span = Span(name, time.perf_counter(), parent=parent, kwargs=kwargs or {})
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        elif span in stack:
            stack.remove(span)

    def wrapper(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            span = tracer.open(name, kwargs)
            try:
                span.result = fn(*args, **kwargs)
                return span.result
            finally:
                tracer.close(span)

        traced.__wrapped__ = fn
        return traced

    def patch(self, module: str, attr: str, name: str) -> None:
        mod = importlib.import_module(module)
        original = getattr(mod, attr)
        self._patches.append((mod, attr, original))
        setattr(mod, attr, self.wrapper(name, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is span]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.named(name))

    def total_self(self, name: str) -> float:
        return sum(self_time(s, self.children(s)) for s in self.named(name))


# ---------------------------------------------------------------------------
# Spark event log


@dataclass
class TaskRec:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    job_submit_ms: list[int] = field(default_factory=list)
    tasks: list[TaskRec] = field(default_factory=list)


def read_event_log(lines) -> EventLog:
    """Jobs and finished tasks from an uncompressed, non-rolling event log."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.job_submit_ms.append(int(ev["Submission Time"]))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(TaskRec(
                launch_ms=int(info.get("Launch Time", 0)),
                finish_ms=int(info.get("Finish Time", 0)),
                run_ms=int(m.get("Executor Run Time", 0)),
                cpu_ns=int(m.get("Executor CPU Time", 0)),
                gc_ms=int(m.get("JVM GC Time", 0)),
                shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
            ))
    return log


def attribute(log: EventLog, start_ms: float, end_ms: float) -> dict:
    """Spark execution inside one operation's wall-clock window.

    Pool-thread jobs do not reliably carry the caller's job group, so jobs
    and tasks belong to the operation whose window holds their submission
    or launch time; the benchmark runs one operation at a time."""
    tasks = [t for t in log.tasks if start_ms <= t.launch_ms < end_ms]
    wall_ms = max(end_ms - start_ms, 0.0)
    busy_ms = covered(
        [(t.launch_ms, t.finish_ms) for t in tasks], start_ms, end_ms
    )
    slot_ms = sum(min(t.finish_ms, end_ms) - t.launch_ms for t in tasks)
    return {
        "spark.jobs": sum(1 for j in log.job_submit_ms if start_ms <= j < end_ms),
        "spark.tasks": len(tasks),
        "spark.task_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "spark.spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "spark.slot_busy_s": slot_ms / 1e3,
        "spark.wall_s": wall_ms / 1e3,
        "spark.no_task_s": (wall_ms - busy_ms) / 1e3,
    }
