"""Spark status-store and memory collector.

Per step (one drop or one query, run under its own job group) the
collector sums, over the non-skipped stages of the group's jobs, what
Spark's own status store recorded: tasks, executor run and CPU time,
GC, shuffle write, spill and output bytes. It adds no Spark action.
``not_in_tasks_s`` is the step's wall time minus task run time spread
over the local slots: time the step spent planning, scheduling,
committing or waiting, rather than inside a task.
"""

from __future__ import annotations

import os
import time

COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "output_bytes",
)


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self._jsc = self.sc._jsc.sc()
        self.slots = self.sc.defaultParallelism

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, wall_s: float) -> dict:
        """Counters of every job run under ``group``; clears the group."""
        self.sc.setJobGroup("", "")
        # the status store is fed by the listener bus: drain it so the
        # last job's stages are recorded before they are read
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
        out["not_in_tasks_s"] = wall_s - out["task_run_s"] / self.slots
        return out

    def sched_probe_ms(self, n: int = 9) -> float:
        """Median wall time of a trivial one-task job: the scheduling
        latency every job pays on this machine (context, not a target)."""
        probes = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(0, 1, 1, 1).count()
            probes.append(time.perf_counter() - t0)
        return sorted(probes)[n // 2] * 1e3

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the
        JVM's Python workers (live ones and those already reaped)."""
        tick = os.sysconf("SC_CLK_TCK")
        jvm = self.sc._gateway.proc.pid
        total = 0
        for pid in [os.getpid(), jvm, *_descendants(jvm)]:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited between listing and reading
            total += int(f[11]) + int(f[12])  # utime, stime
            if pid == jvm:
                total += int(f[13]) + int(f[14])  # cutime, cstime
        return total / tick

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the JVM plus this Python process."""
        pids = [os.getpid(), self.sc._gateway.proc.pid]
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out
