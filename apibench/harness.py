"""Measurement plumbing: sample statistics, operation accounting (attempted
vs failed), Spark job/stage/task accounting per call, memory, and a clean
Spark shutdown."""

from __future__ import annotations

import gc
import math
import os
import statistics
import subprocess
import time
from collections import defaultdict


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(p, value, n_samples)``; None when even the median lacks them.
    Candidates are p50, p75, p90, p95, p99, p99.9."""
    n = len(samples)
    best = None
    for p in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            best = (p, percentile(samples, p), n)
    return best


class OpLog:
    """Latency samples per op kind plus attempted/failed counts. A failed
    operation is one that raised or returned a wrong answer; it is never
    retried and its latency is kept out of the samples."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, kind: str, seconds: float, error: str | None) -> None:
        self.attempted += 1
        if error is None:
            self.samples[kind].append(seconds)
        else:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{kind}: {error}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def median(self, kind: str) -> float | None:
        s = self.samples.get(kind)
        return statistics.median(s) if s else None

    def summary(self) -> dict:
        out = {}
        for kind, s in sorted(self.samples.items()):
            row = {"n": len(s), "p50_s": statistics.median(s)}
            tail = tail_percentile(s)
            if tail is not None:
                row[f"p{tail[0]:g}_s"] = tail[1]
            out[kind] = row
        return out


class SparkAccounting:
    """Jobs, stages, tasks, executor run time and bytes for every Spark job
    launched under one job group, read from Spark's own status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._n = 0
        self.current = "apibench-idle"

    def begin(self, kind: str) -> str:
        self._n += 1
        self.current = f"apibench-{kind}-{self._n}"
        self.sc.setJobGroup(self.current, kind)
        return self.current

    def current_jobs(self) -> int:
        return len(self.job_ids(self.current))

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def collect(self, group: str) -> dict:
        self.current = "apibench-idle"
        self.sc.setJobGroup(self.current, "idle")
        jobs = self.job_ids(group)
        stages = tasks = 0
        run_ms = input_b = shuffle_b = 0
        empty = self._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self._jvm.double, 0)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else []:
                data = self._store.stageData(int(s), False, empty, False, no_q)
                if data.size() == 0:
                    continue
                sd = data.head()
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                input_b += sd.inputBytes()
                shuffle_b += sd.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "executor_run_s": run_ms / 1000.0,
            "input_bytes": input_b,
            "shuffle_bytes": shuffle_b,
        }


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_jvm_peak(spark) -> None:
    """Start the JVM heap peak over (the end of warm-up)."""
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def _proc_kb(pid, key: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def memory_mb(spark) -> dict[str, float]:
    """Driver memory in MB. Retained at the end of the run: this process's
    RSS and the JVM heap still live after a full GC. Peaks: this process's
    peak RSS, the JVM heap's peak since :func:`reset_jvm_peak` (the sum of
    the heap pools' peaks, so transient intermediates count) and the JVM's
    RSS high-water mark."""
    jvm = spark.sparkContext._jvm
    heap_peak = sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark))
    # py4j proxies that Python no longer references keep their JVM objects
    # alive until Python collects them: collect first, then the JVM. The
    # GC hands dead broadcasts and shuffles to Spark's ContextCleaner, which
    # drops their blocks on its own thread; let it, then collect again.
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    return {
        "python_rss": _proc_kb("self", "VmRSS") / 1024.0,
        "jvm_live_heap": live / 2**20,
        "python_peak_rss": _proc_kb("self", "VmHWM") / 1024.0,
        "jvm_heap_peak": heap_peak / 2**20,
        "jvm_peak_rss": _proc_kb(jvm_pid, "VmHWM") / 1024.0,
    }


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Py4JError:  # the JVM is already gone
                pass
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Clock:
    """Wall-clock deadline for the timed phase."""

    def __init__(self, seconds: float) -> None:
        self.deadline = time.perf_counter() + seconds

    def expired(self) -> bool:
        return time.perf_counter() >= self.deadline


def env_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
