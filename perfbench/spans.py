"""Outside spans around the engine's public functions.

A span wraps one call the benchmark makes into a layer (plus the
consumption of any lazy frame that call returns). In a traced run each
span gets a Spark job group that is unique within the process; when the
span closes, its jobs and their stages are read from Spark's own status
store (``AppStatusStore``, live even with the UI disabled), before
``spark.ui.retainedJobs``/``retainedStages`` can evict them.

Per span name the tracer sums: calls, busy (wall) seconds, Spark jobs,
executor CPU and run time, shuffle-write and output bytes, and
driver-only time — the part of the span's wall time that none of its
jobs covers (planning, driver collects, file-system metadata calls,
Python/JVM round trips).

With tracing off, ``span`` only runs the body: the timed run pays
nothing for the per-layer breakdown.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class SpanStats:
    calls: int = 0
    busy_s: float = 0.0
    spark_jobs: int = 0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    driver_only_s: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.stats: dict[str, SpanStats] = {}
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        group = f"perfbench-{os.getpid()}-{next(self._ids)}"
        if sc is not None:
            sc.setJobGroup(group, name, False)
        t0_ms = int(time.time() * 1000)
        p0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            t1_ms = int(time.time() * 1000) + 1
            o0 = time.perf_counter()
            st = self.stats.setdefault(name, SpanStats())
            st.calls += 1
            st.busy_s += wall
            # The session itself may have been created or stopped inside
            # the span (session.get_spark): then there is no group to read.
            sc_now = SparkContext._active_spark_context
            if sc is not None and sc_now is sc:
                sc._jsc.clearJobGroup()
                self._collect(sc, group, st, t0_ms, t1_ms, wall)
            self.overhead_s += time.perf_counter() - o0

    def _collect(self, sc, group: str, st: SpanStats, t0_ms: int, t1_ms: int, wall: float) -> None:
        jsc = sc._jsc.sc()
        # Status-store updates arrive on the listener bus asynchronously:
        # drain it so the group's last jobs and stages are visible.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        intervals: list[tuple[int, int]] = []
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            st.spark_jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((sub.get().getTime(), end))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its work ran (and was counted) earlier
                st.exec_run_s += stage.executorRunTime() / 1e3
                st.exec_cpu_s += stage.executorCpuTime() / 1e9
                st.shuffle_bytes += stage.shuffleWriteBytes()
                st.output_bytes += stage.outputBytes()
        st.driver_only_s += max(0.0, wall - covered_ms(intervals, t0_ms, t1_ms) / 1e3)

    def exec_run_s(self) -> float:
        return sum(s.exec_run_s for s in self.stats.values())
