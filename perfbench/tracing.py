"""Spans and Spark status-store counters for the traced run.

A span is (name, parent, start, end) in wall-clock seconds, kept in
memory and written out when the run ends. ``stage_profile`` reads the
driver's in-process status store (``sc._jsc.sc().statusStore()``,
populated with ``spark.ui.enabled=false`` too) for every job of one job
group; it launches no Spark jobs and is called outside timed spans.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Spans:
    """In-memory span log; one instance per run, shared by threads."""

    def __init__(self):
        self.rows: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = getattr(self._local, "current", None)
        row = {"name": name, "parent": parent, "thread": threading.get_ident(), **attrs}
        self._local.current = name
        row["start"] = time.time()
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._local.current = parent
            with self._lock:
                self.rows.append(row)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> bool:
    """Wait until the status store has seen every event posted so far.

    The store is filled from the listener bus asynchronously, so right
    after an action the last stage's completion time and metrics may
    still be missing. False when the bus did not drain in time."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
        return True
    except Py4JJavaError:  # TimeoutException
        return False


def stage_profile(spark, group: str, t0: float, t1: float) -> dict:
    """Counters of every job in ``group``; [t0, t1] is the query's wall.

    Drains the listener bus first, so call it outside timed spans."""
    sc = spark.sparkContext
    drained = drain_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in job_ids:
        seq = store.job(j).stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    p = dict(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0, run_s=0.0,
             cpu_s=0.0, gc_s=0.0, shuffle_write_b=0, shuffle_read_b=0,
             spill_b=0, input_b=0, skew_ratio=1.0, job_ids=job_ids,
             drained=drained)
    spans, longest = [], None
    for s in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted from the store's retention window
            continue
        # stages and tasks count skipped ones too (a reused shuffle still
        # costs the driver a stage); time and bytes come from run stages
        p["stages"] += 1
        p["tasks"] += st.numTasks()
        if st.status().toString() == "SKIPPED":
            continue
        p["failed_tasks"] += st.numFailedTasks()
        p["run_s"] += st.executorRunTime() / 1e3
        p["cpu_s"] += st.executorCpuTime() / 1e9
        p["gc_s"] += st.jvmGcTime() / 1e3
        p["shuffle_write_b"] += st.shuffleWriteBytes()
        p["shuffle_read_b"] += st.shuffleReadBytes()
        p["spill_b"] += st.diskBytesSpilled()
        p["input_b"] += st.inputBytes()
        a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if a is not None and b is not None:
            spans.append((a, b))
            if longest is None or b - a > longest[0]:
                longest = (b - a, s, st.attemptId())
    p["stage_busy_s"] = _union_s(spans, t0, t1)
    p["driver_gap_s"] = max(0.0, (t1 - t0) - p["stage_busy_s"])
    if longest is not None:
        tasks = store.taskList(longest[1], longest[2], 100_000)
        runs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        if med > 0:
            p["skew_ratio"] = max(runs) / med
    return p
