"""Readers of Spark's own telemetry and of the operating system, used
from outside the program: the live status store for executor work per
stage, the query planning tracker for Catalyst's phases, the JVM's
memory bean, and /proc for the Python workers Spark forks."""

from __future__ import annotations

import os
import time

EXEC_KEYS = (
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "stages",
    "tasks",
)
PHASES = ("analysis", "optimization", "planning")
_MB = 2.0**20


class StageCounter:
    """Executor work of the stages that ran since the previous ``take``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._tracker = sc.statusTracker()
        self._args = (sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList())
        self._seen_stage = self._newest_stage()
        self._seen_jobs = set(self._tracker.getJobIdsForGroup(None))

    def _stages(self):
        return self._store.stageList(None, False, False, *self._args)

    def _newest_stage(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def take(self) -> dict[str, float]:
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        stages = self._stages()
        newest = self._seen_stage
        # the store lists the newest stage first
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen_stage:
                break
            newest = max(newest, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["spill_mb"] += s.diskBytesSpilled() / _MB
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
        self._seen_stage = newest
        jobs = set(self._tracker.getJobIdsForGroup(None))
        out["jobs"] = float(len(jobs - self._seen_jobs))
        self._seen_jobs = jobs
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by the DataFrame's own
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_live_mb(spark) -> float:
    """JVM heap in use once the session's cached data is dropped and full
    collections stop freeing anything: what the session itself retains.
    Collections repeat because Spark's ContextCleaner drops dead
    broadcasts and shuffles only after a collection has shown them dead."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    spark.catalog.clearCache()
    last = float("inf")
    for _ in range(10):
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / _MB
        if last - used < 1.0:
            break
        last = used
        time.sleep(0.3)
    return used


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of it and its reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] is ppid; utime, stime, cutime, cstime are 11..14
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    return out


def descendant_cpu_s(root: int) -> float:
    """CPU seconds used by every live descendant of ``root`` (the
    Python workers under the JVM), including workers they reaped."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def dir_count(path: str, prefix: str) -> int:
    """Directories under ``path`` whose name starts with ``prefix``."""
    n = 0
    for _, dirs, _ in os.walk(path):
        n += sum(1 for d in dirs if d.startswith(prefix))
    return n
