"""Spans around engine calls, with Spark counters per span.

A span is ``<layer>.<call>``: name, start, end, parent and run id.
On exit the Spark jobs submitted inside the span are looked up in the
status store and their stages summed. Spans stay in memory until the
run ends.

``stageList`` cannot be called over py4j (Scala default arguments), so
stages are read one by one with ``lastStageAttempt``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from statistics import median

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    jobs: int = 0
    driver_ms: float = 0.0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    mb_written: float = 0.0
    files_written: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _tree_files(roots: list[str]) -> dict[str, int]:
    out: dict[str, int] = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


class Tracer:
    """Records spans when enabled; a disabled tracer runs the body bare,
    so timed runs pay nothing.

    The benchmark is one client in one process, so every Spark job
    submitted while a span is open belongs to it. Jobs are found by
    walking the sequential job ids, not by job group: the engine submits
    some writes from helper threads, and streaming micro-batches from
    the stream's own thread, and neither inherits the caller's group."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark, self.enabled, self.run_id = spark, enabled, run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._next_job = 0
        self.overhead_s: list[float] = []

    @contextmanager
    def span(self, name: str, write_roots: tuple[str, ...] = ()):
        if not self.enabled:
            yield
            return
        t_enter = time.perf_counter()
        before = _tree_files(list(write_roots)) if write_roots else {}
        self._skip_jobs()
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        self._stack.append(name)
        setup_cost = time.perf_counter() - t_enter
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            t_exit = time.perf_counter()
            self._stack.pop()
            self._collect(sp)
            if write_roots:
                after = _tree_files(list(write_roots))
                new = {p: s for p, s in after.items() if before.get(p) != s}
                sp.files_written = len(new)
                sp.mb_written = sum(new.values()) / 1e6
            self.spans.append(sp)
            self.overhead_s.append(setup_cost + time.perf_counter() - t_exit)

    def _new_jobs(self):
        """Job ids submitted since the last call, in order."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        while True:
            try:
                jd = store.job(self._next_job)
            except Py4JJavaError:  # no job with this id yet
                return
            yield self._next_job, jd
            self._next_job += 1

    def _skip_jobs(self) -> None:
        for _ in self._new_jobs():
            pass

    def _collect(self, sp: Span) -> None:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        intervals = []
        cpu_ns = shuffle = spill = 0
        for j, jd in self._new_jobs():
            sp.jobs += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                cpu_ns += sd.executorCpuTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
        sp.cpu_s = cpu_ns / 1e9
        sp.shuffle_mb = shuffle / 1e6
        sp.spill_mb = spill / 1e6
        sp.driver_ms = (sp.end - sp.start - _covered(intervals, sp.start, sp.end)) * 1000.0

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def overhead_ms(self) -> float:
        return median(self.overhead_s) * 1000.0 if self.overhead_s else 0.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
