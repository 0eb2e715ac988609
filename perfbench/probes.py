"""Readers for counters outside the engine: /proc, the Spark status
tracker, the JVM's management beans and the physical plan."""

from __future__ import annotations

import os
import re
import time

PYTHON_EVAL_NODE = re.compile(
    r"^\(\d+\) (MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas)\b", re.M)


# ----------------------------------------------------------------- /proc

def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return int(stat[stat.rindex(")") + 2:].split()[1])


def descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _ppid(int(name))
            if p is not None:
                parent[int(name)] = p
    out, frontier = [], {root}
    while frontier:
        kids = {c for c, p in parent.items() if p in frontier}
        out.extend(sorted(kids))
        frontier = kids
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of peak resident sizes of this process and all its
    descendants (the JVM and the Python workers it forked)."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me] + descendants(me)) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


# --------------------------------------------------------------- the JVM

class Jvm:
    """Cumulative GC and JIT times from the driver JVM's MXBeans."""

    def __init__(self, sc):
        self._mf = sc._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0)
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() \
            / 1000.0


# ----------------------------------------------------------------- Spark

def job_counts(sc, groups: list[str]) -> dict:
    """Jobs, stages, tasks, failed tasks and I/O bytes of the given job
    groups.  Counts come from the public status tracker; stage I/O bytes
    from the driver's status store."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
           "bytes_read": 0, "bytes_written": 0}
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped stage (its data was reused)
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks
                out["tasks_failed"] += si.numFailedTasks
                try:
                    sd = store.lastStageAttempt(sid)
                    out["bytes_read"] += sd.inputBytes()
                    out["bytes_written"] += sd.outputBytes()
                except Exception:  # evicted from the status store
                    pass
    return out


def python_eval_nodes(plan: str) -> int:
    """Python-evaluation operators in a formatted physical plan."""
    return len(PYTHON_EVAL_NODE.findall(plan))
