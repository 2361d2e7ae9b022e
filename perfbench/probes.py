"""Measurements taken from outside the engine.

Nothing here reaches into ``cuvs_lucene_spark``: Spark work is counted
through job groups and ``SparkContext.statusTracker()``, CPU time and RSS
come from ``/proc`` for the benchmark's own process tree (driver, JVM and
Python workers), and JVM memory from the platform MXBeans through py4j.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class JobCounter:
    """Spark jobs, stages and tasks started by one call.

    The call runs under a job group of its own. Jobs that the engine starts
    from its own driver threads carry no group, so a call also owns every
    ungrouped job that first appears while it runs (one client, nothing
    else submits work).
    """

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()
        self.n = 0

    def start(self, label: str) -> tuple[str, set[int]]:
        self.n += 1
        group = f"perfbench-{self.n}"
        before = set(self.st.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        return group, before

    def finish(self, token: tuple[str, set[int]]) -> dict[str, int]:
        group, before = token
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus, which can lag the
        # action that returned: poll until the job set is stable and done
        deadline = time.monotonic() + 5.0
        prev = None
        while True:
            jobs = set(self.st.getJobIdsForGroup(group))
            jobs |= set(self.st.getJobIdsForGroup(None)) - before
            infos = [self.st.getJobInfo(j) for j in sorted(jobs)]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
            if (done and jobs == prev) or time.monotonic() > deadline:
                break
            prev = jobs
            time.sleep(0.05)
        # stages: every stage id of the call's jobs, skipped ones included
        # (a stage whose shuffle output is reused), as the ROADMAP table counts
        stages = tasks = failed = 0
        for info in infos:
            if info is None:
                continue
            stages += len(info.stageIds)
            for sid in info.stageIds:
                s = self.st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all of its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _classify(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    if comm == "java":
        return "jvm"
    return "py_workers" if comm.startswith("python") else "other"


def cpu_by_class() -> dict[str, float]:
    """CPU seconds (user+system, plus reaped children) per process class.

    Python workers that exit are reaped by the PySpark daemon, so their time
    stays in the tree through the daemon's child counters.
    """
    out = {"driver": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid in process_tree():
        cls = _classify(pid)
        if cls not in out:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[cls] += sum(int(x) for x in fields[11:15]) / _CLK
    return out


def rss_by_class() -> dict[str, int]:
    """Resident bytes per process class. Short-lived helpers the JVM forks
    (class "other") are left out: right after the fork they report the
    JVM's own resident pages a second time."""
    out = {"driver": 0, "jvm": 0, "py_workers": 0}
    for pid in process_tree():
        cls = _classify(pid)
        if cls not in out:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[cls] += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


class RssSampler:
    """Peak RSS of the process tree, sampled on a background thread, and its
    split by process class at the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = rss_by_class()
            if sum(parts.values()) > self.peak:
                self.peak, self.at_peak = sum(parts.values()), parts
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


class JvmMemory:
    """GC time and heap peak of the driver JVM (platform MXBeans)."""

    def __init__(self, sc):
        self.mf = sc._jvm.java.lang.management.ManagementFactory

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()) / 1e3

    def _heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
