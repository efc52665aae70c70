"""Per-layer readings taken from outside the engine.

- ``ProcTree``: CPU seconds and peak resident memory of the driver
  Python process, the JVM and the JVM's Python workers, read from
  ``/proc`` at pass boundaries (cumulative CPU counters and per-process
  VmHWM, so no sampler thread is needed).
- ``SparkStore``: per-job-group job, stage and task counters read from
  Spark's status tracker and status store after the listener bus drains.
- ``Spans``: in-memory spans (name, start, end, parent) written out once
  at the end of a run.
"""

from __future__ import annotations

import json
import os
import time

CLK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
#: what ``SparkStore.group`` sums over a job group's stages
SPARK_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own CPU s, reaped children's CPU s) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), (int(f[11]) + int(f[12])) / CLK, (int(f[13]) + int(f[14])) / CLK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def steal_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat's cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


class ProcTree:
    """The benchmark's process tree: this Python driver, the JVM it
    launched, and the JVM's descendants (the pyspark daemon and workers)."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        #: peak summed VmHWM (MB): whole tree, and per role
        self.peak_mb = dict.fromkeys(("tree", "jvm", "pyworker", "driver_py"), 0.0)

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``jvm``, ``pyworker`` and ``driver_py``.
        A reaped worker's time moves into its parent's children-time, so
        the worker total stays continuous across worker exits."""
        jvm = _stat(self.jvm)
        workers = 0.0
        for pid in descendants(self.jvm):
            st = _stat(pid)
            if st:
                workers += st[1] + st[2]
        own = _stat(self.driver)
        return {"jvm": jvm[1] if jvm else 0.0, "pyworker": workers, "driver_py": own[1] if own else 0.0}

    def sample_rss(self) -> None:
        """Fold the current per-process peak RSS (VmHWM) into ``peak_mb``."""
        now = {"jvm": _hwm_mb(self.jvm), "driver_py": _hwm_mb(self.driver)}
        now["pyworker"] = sum(_hwm_mb(p) for p in descendants(self.jvm))
        now["tree"] = sum(now.values())
        for k, v in now.items():
            self.peak_mb[k] = max(self.peak_mb[k], v)


class SparkStore:
    """Counters per Spark job group, read from the live status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()

    def group(self, gid: str) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        stage_ids: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += sd.diskBytesSpilled() / MB
        return out

    def cached(self) -> tuple[int, float]:
        """(live persisted RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return self.sc._jsc.getPersistentRDDs().size(), sum((i.memSize() + i.diskSize()) / MB for i in infos)


class Spans:
    """Spans kept in memory; ``dump`` writes them as one JSON list."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None) -> int:
        self.items.append({"id": len(self.items), "name": name, "parent": parent, "start": time.perf_counter() - self.t0})
        return len(self.items) - 1

    def close(self, sid: int) -> float:
        s = self.items[sid]
        s["end"] = time.perf_counter() - self.t0
        return s["end"] - s["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.items, fh)
