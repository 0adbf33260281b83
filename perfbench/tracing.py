"""Spans around public okapi_spark calls, plus box and JVM probes.

A ``Tracer`` times each call it wraps, in wall seconds and in CPU
seconds of the benchmark's whole process tree (the driver, the JVM and
its Python workers). CPU time is what the box's hypervisor cannot
inflate: under steal the wall of the same work stretches, its CPU time
does not. With ``enabled`` the tracer also puts
the call's Spark jobs in their own job group and, after the call,
reads the group's job, stage and task counts from ``statusTracker()``
and the per-stage executor run time, shuffle write bytes and GC time
from the JVM status store. Nothing inside the package is patched.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0  # summed executorRunTime of the span's stages
    shuffle_bytes: int = 0
    gc_ms: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._ids = itertools.count()
        # driver time spent on tracing itself, outside the spans' walls
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        sp = Span(name)
        sc = self.spark.sparkContext
        group = f"bench-{name}-{next(self._ids)}"
        if self.enabled:
            t = time.perf_counter()
            sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        start_ms = time.time() * 1000.0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.wall_s = t1 - t0
            sp.cpu_s = tree_cpu_s() - cpu0
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._collect(group, start_ms, sp)
                self.overhead_s += time.perf_counter() - t1

    def _collect(self, group: str, start_ms: float, sp: Span) -> None:
        """Counts of the group's jobs. A job also lists the stages whose
        shuffle output it reused (skipped here, run earlier); only stage
        attempts submitted during the span are counted."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        d3 = getattr(store, "stageData$default$3")()
        d5 = getattr(store, "stageData$default$5")()
        job_ids = tracker.getJobIdsForGroup(group)
        sp.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else [])
        for sid in stage_ids:
            attempts = store.stageData(sid, False, d3, False, d5)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                submitted = sd.submissionTime()
                if submitted.isDefined() and submitted.get().getTime() >= start_ms - 1:
                    sp.tasks += sd.numCompleteTasks()
                    sp.run_ms += sd.executorRunTime()
                    sp.shuffle_bytes += sd.shuffleWriteBytes()
                    sp.gc_ms += sd.jvmGcTime()


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant, including the children each has reaped."""
    root = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we scanned
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime..cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_delta(a: list[int], b: list[int]) -> dict[str, float]:
    """Share of the window's CPU time spent in system, iowait and steal
    — the same deltas as the repository's ``bench.py``, unrounded."""
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {
        "sys_pct": 100.0 * d[2] / tot,
        "iowait_pct": 100.0 * d[4] / tot,
        "steal_pct": 100.0 * d[7] / tot,
    }


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def du(root: str, prefix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``root``, counting only top-level entries
    whose name starts with ``prefix``."""
    total = files = 0
    if not os.path.isdir(root):
        return 0, 0
    for entry in os.listdir(root):
        if not entry.startswith(prefix):
            continue
        path = os.path.join(root, entry)
        if os.path.isfile(path):
            total += os.path.getsize(path)
            files += 1
            continue
        for dirpath, _dirs, names in os.walk(path):
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files
