"""Counters read from Spark's own status store and from ``/proc``.

Jobs are found by job group (``SparkContext.setJobGroup``), so every
counter covers exactly the jobs launched inside the measured span. All
reads happen after the span has ended and never launch a job.
"""

from __future__ import annotations

import gc
import os
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0  # stages that ran at least one task (skipped ones excluded)
    tasks: int = 0
    shuffle_bytes: int = 0  # shuffle write
    input_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    spill_bytes: int = 0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)  # epoch ms

    def busy_s(self) -> float:
        """Wall seconds with at least one of the jobs running (interval union)."""
        total = end = 0
        for lo, hi in sorted(self.job_intervals):
            total += max(0, hi - max(lo, end))
            end = max(end, hi)
        return total / 1000.0


def job_ids(spark, groups: list[str]) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})


def counters(spark, groups: list[str]) -> Counters:
    """Sum the counters of every job launched under the given job groups.

    A stage shared by several jobs is counted once.
    """
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    c = Counters()
    stage_ids: set[int] = set()
    for j in job_ids(spark, groups):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        c.jobs += 1
        stage_ids.update(info.stageIds)
        data = store.job(j)
        sub, done = data.submissionTime(), data.completionTime()
        if sub.isDefined() and done.isDefined():
            c.job_intervals.append((sub.get().getTime(), done.get().getTime()))
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # stage never submitted, so not in the store
            continue
        ran = sd.numCompleteTasks() + sd.numFailedTasks()
        if ran == 0:
            continue
        c.stages += 1
        c.tasks += ran
        c.shuffle_bytes += sd.shuffleWriteBytes()
        c.input_bytes += sd.inputBytes()
        c.executor_run_s += sd.executorRunTime() / 1000.0
        c.executor_cpu_s += sd.executorCpuTime() / 1e9
        c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return c


def collect_garbage(spark) -> None:
    """Full collection in Python, then in the driver JVM, so that only
    what something still references stays alive."""
    gc.collect()
    spark._jvm.System.gc()


def pinned_rdds(spark) -> int:
    """Persistent RDDs still registered. ``SparkContext`` keeps them in a
    weak-valued map, so after ``collect_garbage`` only RDDs something
    still holds remain: cached DataFrames (the cache manager holds them)
    and leaked pins."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def heap_used_mb(spark) -> float:
    """Driver JVM heap in use; after ``collect_garbage``, the live set."""
    usage = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0
