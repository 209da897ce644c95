"""Spark-side measurement: job groups, status-store counters, RSS.

Every measured span runs under its own Spark job group. After the span,
the jobs of that group are looked up in the driver's status store (the
store behind the Spark UI, populated even with the UI off) and their
stage metrics are summed. Nothing here changes how the package runs a
query; it only tags jobs and reads what Spark already records.
"""

from __future__ import annotations

import contextlib
import threading
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "gc_ms",
    "sched_wait_ms",
)


@dataclass
class GroupStats:
    """Summed stage metrics of one job group, plus its job intervals
    (epoch ms) for overlap arithmetic."""

    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    job_intervals: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in other.counters.items():
            self.counters[k] += v
        self.job_intervals.extend(other.job_intervals)


def union_length(intervals: list) -> float:
    """Length of the union of [start, end] intervals, in their unit."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Job-group tagging, deadline cancellation and status-store reads
    for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jsc = jsc
        self._seq = 0
        self._lock = threading.Lock()

    def new_group(self, label: str) -> str:
        with self._lock:
            self._seq += 1
            return f"{label}#{self._seq}"

    @contextlib.contextmanager
    def group(self, gid: str):
        """Run the body's Spark jobs under job group ``gid`` (this thread
        only), restoring the enclosing group afterwards."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, gid, interruptOnCancel=True)
        try:
            yield gid
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.sc.setLocalProperty("spark.job.interruptOnCancel", None)
            else:
                self.sc.setJobGroup(prev, prev, interruptOnCancel=True)

    def cancel(self, gid: str) -> None:
        self.sc.cancelJobGroup(gid)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store reflects all finished jobs."""
        self._bus.waitUntilEmpty(30_000)

    def stats(self, gid: str) -> GroupStats:
        """Summed counters of every job in ``gid``; call ``settle`` first."""
        out = GroupStats()
        c = out.counters
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            job = self._store.job(jid)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.job_intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(c, stage_ids.apply(i))
        return out

    def _add_stage(self, c: dict, sid: int) -> None:
        try:
            attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
        except Exception:  # noqa: BLE001 — evicted or never-run stage: nothing to add
            return
        for a in range(attempts.size()):
            d = attempts.apply(a)
            if d.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
            c["executor_run_ms"] += d.executorRunTime()
            c["executor_cpu_ms"] += d.executorCpuTime() / 1e6
            c["shuffle_read_bytes"] += d.shuffleReadBytes()
            c["shuffle_write_bytes"] += d.shuffleWriteBytes()
            c["spill_bytes"] += d.diskBytesSpilled()
            c["input_bytes"] += d.inputBytes()
            c["output_bytes"] += d.outputBytes()
            c["gc_ms"] += d.jvmGcTime()
            sub, first = d.submissionTime(), d.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                c["sched_wait_ms"] += max(first.get().getTime() - sub.get().getTime(), 0)

    def storage_bytes(self) -> int:
        """Memory + disk bytes held by cached or checkpointed RDDs."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

