"""Measurement helpers: spans, Spark job-group statistics, host counters.

Nothing here is imported by ``fxspark``; the benchmark wraps its own calls
into the program with these. Spans are kept in memory and written out by
the caller when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

_HZ = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """Span recorder. ``span`` nests: the innermost open span is the parent
    of the next one opened."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s.end - s.start

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of its interval its children cover."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Spark: job groups → job / stage statistics from the status store
# --------------------------------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "executor_run_s", "gc_s")


class SparkStats:
    """Reads what Spark's own status store recorded for a job group. Works
    with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def group_stats(self, group: str) -> dict[str, float]:
        """Jobs, completed stages and tasks, shuffle/spill bytes, executor
        run time and GC time of every job in ``group``. Skipped stages
        (reused shuffle output) are not counted."""
        out = dict.fromkeys(EXEC_KEYS, 0)
        seen: set[int] = set()
        for j in self.job_ids(group):
            out["jobs"] += 1
            it = self._store.job(j).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                ).iterator()
                while attempts.hasNext():
                    d = attempts.next()
                    if d.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    out["executor_run_s"] += d.executorRunTime() / 1000.0
                    out["gc_s"] += d.jvmGcTime() / 1000.0
        return out

    def gc(self) -> None:
        """Full JVM GC; called only between timed units."""
        self.sc._jvm.System.gc()

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def cpu_s(self) -> float:
        """JVM + this Python process CPU seconds so far."""
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / _HZ
        t = os.times()
        return jvm + t.user + t.system


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the frame's own
    QueryExecution tracker (the plan must have been forced first)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] += float(kv._2().durationMs())
    return out


# --------------------------------------------------------------------------
# Host noise record (never used to rescale a metric)
# --------------------------------------------------------------------------

def steal_s() -> float:
    """Host steal time so far, summed over all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _HZ


def calibration_probe() -> float:
    """A fixed single-threaded CPU workload (no Spark, no I/O): median of 3
    runs of sorting a fixed array and a fixed Python loop. It moves only
    when the host does."""
    a = np.random.default_rng(0).random(400_000)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(10):
            np.sort(a)
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ``beyond``
    samples above it. With too few samples it falls back to the median."""
    n = len(samples)
    if n == 0:
        return 50.0, 0.0
    pct = max(50.0, 100.0 * (n - beyond) / n)
    return pct, float(np.percentile(samples, pct))
