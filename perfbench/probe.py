"""Counters read from outside the engine, plus the benchmark's statistics.

Spark keeps a status store of every job and stage even with the UI
disabled. :class:`StatusProbe` reads it through py4j: note the highest job
id before a call, then after the call walk ``jobsList`` (newest first) →
``stageIds`` → ``lastStageAttempt`` for the jobs the call launched. A
stage shared by several jobs is counted once, and a stage Spark skipped
because its shuffle output already existed is not counted at all.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import time
from dataclasses import dataclass, fields


@dataclass
class Counters:
    """Job and stage counters summed by :meth:`StatusProbe.since`."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


COUNTERS = tuple(f.name for f in fields(Counters))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusProbe:
    """Job and stage counters of one SparkContext, read from its status
    store. ``store`` and ``flush`` are injectable for tests."""

    def __init__(self, spark=None, store=None, flush=None):
        if spark is not None:
            jsc = spark.sparkContext._jsc.sc()
            store = jsc.statusStore()
            bus = jsc.listenerBus()
            flush = bus.waitUntilEmpty
        self.store = store
        self.flush = flush or (lambda: None)

    def _new_jobs(self, mark: int) -> list:
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= mark:
                break  # the list is ordered newest first
            out.append(job)
        return out

    def mark(self) -> int:
        """The highest job id so far (-1 before the first job)."""
        self.flush()
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def since(self, mark: int) -> Counters:
        """Counters of every job with an id above ``mark``."""
        self.flush()
        jobs = self._new_jobs(mark)
        c = Counters(jobs=len(jobs))
        stage_ids = {sid for job in jobs for sid in _seq(job.stageIds())}
        for sid in sorted(stage_ids):
            s = self.store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += s.numTasks()
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.executor_run_s += s.executorRunTime() / 1e3
            c.jvm_gc_s += s.jvmGcTime() / 1e3
            c.input_bytes += s.inputBytes()
            c.output_bytes += s.outputBytes()
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return c


class Driver:
    """Process-level readings of the Python driver and its JVM."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        """CPU time (user + system) used so far by this process and the
        JVM together, executor threads included. Time the hypervisor
        gives to other guests is not counted, unlike in wall time."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            # the fields after the parenthesised command name; utime and
            # stime are fields 14 and 15 of the whole line
            stat = f.read().rsplit(")", 1)[1].split()
        jvm = (int(stat[11]) + int(stat[12])) / os.sysconf("SC_CLK_TCK")
        return time.process_time() + jvm

    def jit_cpu_s(self) -> float:
        """CPU time used so far by the JVM's JIT compiler threads."""
        total = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    line = f.read()
            except OSError:  # the thread ended
                continue
            name = line[line.index("(") + 1:line.rindex(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                stat = line.rsplit(")", 1)[1].split()
                total += int(stat[11]) + int(stat[12])
        return total / os.sysconf("SC_CLK_TCK")

    def jvm_gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM's."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        fields_ = f.readline().split()
    ticks = int(fields_[8]) if len(fields_) > 8 else 0
    return ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` samples above
    it: returns ``(value, percentile, samples_above)``.

    With fewer than ``2 * beyond`` samples no percentile at or above the
    median qualifies, and the median is returned as the tail."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    p = 50
    for q in range(99, 50, -1):
        # nearest-rank percentile: the k-th smallest with k = ceil(q n / 100)
        if n - math.ceil(q * n / 100) >= beyond:
            p = q
            break
    k = max(math.ceil(p * n / 100), 1)
    return (xs[k - 1] if p > 50 else statistics.median(xs)), p, n - k


def failed_ratio(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def tree_size(path: str) -> tuple[int, int]:
    """``(bytes, files)`` under ``path``, counting data files only."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files
