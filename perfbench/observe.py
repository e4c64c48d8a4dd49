"""Observation from outside the program: process CPU and memory from
/proc, host drift readings, and Spark's own status store (which is kept
with the UI off) read per job group."""

from __future__ import annotations

import os
import re
import statistics
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


# -- processes --------------------------------------------------------------

def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2 :].split()  # fields from 3 (state) on


def process_start_epoch() -> float:
    """Wall-clock start time of this process (10 ms resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / _TICK


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except FileNotFoundError:
        pass
    return out


class ProcWatch:
    """CPU seconds and peak RSS of this Python process, the JVM and the
    JVM's descendants (Python workers, if the program starts any)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def pids(self) -> list[int]:
        out, todo = [os.getpid()], [self.jvm_pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += _children(p)
        return out

    @staticmethod
    def _cpu(pid: int) -> float:
        try:
            f = _stat_fields(pid)
        except FileNotFoundError:
            return 0.0
        return sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime

    def cpu_s(self) -> float:
        return sum(self._cpu(p) for p in self.pids())

    def jvm_cpu_s(self) -> float:
        return self._cpu(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except FileNotFoundError:
                pass
        return total / 1024.0


# -- host drift -------------------------------------------------------------

def steal_s() -> float:
    """Host-wide steal time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def calibrate() -> float:
    """Median of three timings of a fixed pure-Python + numpy computation
    that does not touch the program: a host-speed reading."""
    import numpy as np

    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        np.sort(np.random.default_rng(0).random(400_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# -- Spark status store -----------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PLAN_NODE = re.compile(r"^[\s+\-:*]*([A-Za-z]+)\s+\(\d+\)")


def _size_bytes(text: str) -> float:
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    job_s: float = 0.0  # submission to completion, summed over the jobs
    skew: float = 0.0  # max / median task run time in the slowest stage


class StatusStore:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def group_totals(self, groups: str | list[str], skew: bool = False) -> StageTotals:
        """Stage totals over every job of one job group or of several."""
        self.drain()
        tracker = self.sc.statusTracker()
        out = StageTotals()
        slowest = None
        groups = [groups] if isinstance(groups, str) else groups
        for jid in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
            out.jobs += 1
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out.job_s += (
                    job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                ) / 1000.0
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.task_cpu_s += sd.executorCpuTime() / 1e9
                out.shuffle_mb += sd.shuffleWriteBytes() / 2**20
                out.spill_mb += sd.diskBytesSpilled() / 2**20
                if slowest is None or sd.executorRunTime() > slowest[1]:
                    slowest = (sid, sd.executorRunTime(), sd.attemptId())
        if skew and slowest is not None:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = self.store.taskSummary(slowest[0], slowest[2], q)
            if summary.isDefined():
                d = summary.get().executorRunTime()
                med, mx = d.apply(0), d.apply(1)
                out.skew = mx / med if med > 0 else 0.0
        return out

    def last_execution(self):
        self.drain()
        ex = self.sql.executionsList()
        return ex.apply(ex.size() - 1) if ex.size() else None

    def plan_counts(self, execution) -> dict:
        """Exchange / Sort / Window node counts of the AQE final plan, the
        bytes broadcast, the file bytes scanned and the rows produced by
        Generate nodes."""
        text = execution.physicalPlanDescription()
        tree = text.split("\n\n")[0]
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        names = [m.group(1) for l in tree.splitlines() if (m := _PLAN_NODE.match(l))]
        counts = {
            "exchanges": names.count("Exchange"),
            "sorts": names.count("Sort"),
            "window_ops": names.count("Window"),
            "broadcast_mb": 0.0,
            "scan_mb": 0.0,
            "generated_rows": 0,
        }
        eid = execution.executionId()
        graph = self.sql.planGraph(eid).allNodes()
        values = self.sql.executionMetrics(eid)
        for i in range(graph.size()):
            node = graph.apply(i)
            name = node.name()
            if name not in ("BroadcastExchange", "Generate") and not name.startswith("Scan "):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if name == "BroadcastExchange" and m.name() == "data size":
                    counts["broadcast_mb"] += _size_bytes(v.get()) / 2**20
                if name.startswith("Scan ") and m.name() == "size of files read":
                    counts["scan_mb"] += _size_bytes(v.get()) / 2**20
                if name == "Generate" and m.name() == "number of output rows":
                    counts["generated_rows"] += int(v.get().replace(",", ""))
        return counts
