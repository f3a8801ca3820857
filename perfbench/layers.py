"""Counters read at layer boundaries: the process tree through /proc,
the JVM through its management beans and Spark's codegen counters, jobs
through the status tracker, and shuffle and spill bytes through the UI
REST API.  Every reading is cumulative; callers take differences of
counters that only grow, never of lists that Spark caps."""

from __future__ import annotations

import gc
import json
import os
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if the
    process or thread has gone."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    rp = stat.rfind(")")
    return stat[stat.find("(") + 1:rp], stat[rp + 2:].split()


def _cpu(f: list[str], first: int) -> float:
    return (int(f[first]) + int(f[first + 1])) / _TICK


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own CPU s, CPU s of reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            comm, f = st
            out[int(d)] = (int(f[1]), comm, _cpu(f, 11), _cpu(f, 13))
    return out


def _jit_threads(jvm: int) -> dict[int, float]:
    """tid -> CPU seconds of the JVM's JIT compiler threads."""
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return {}
    out = {}
    for tid in tids:
        st = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if st is not None and st[0].startswith(("C1 Compiler", "C2 Compiler")):
            out[int(tid)] = _cpu(st[1], 11)
    return out


def jit_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """JIT compiler CPU between two ``tree_cpu()["jit"]`` readings.  A
    compiler thread that exits in between takes its share with it."""
    return sum(c - before.get(t, 0.0) for t, c in after.items())


def tree_cpu(root: int | None = None) -> dict:
    """CPU seconds of the process tree under ``root`` (default: this
    process), children already reaped included.  ``pyworkers`` is the
    part below the JVM: the pyspark daemon and its workers.  ``jit``
    maps each live JIT compiler thread of the JVM to its CPU seconds."""
    root = os.getpid() if root is None else root
    tab = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in tab.items():
        kids.setdefault(ppid, []).append(pid)
    total = jvm = workers = 0.0
    jit: dict[int, float] = {}
    todo = [(root, False)]
    while todo:
        pid, below_jvm = todo.pop()
        if pid not in tab:
            continue
        _, comm, own, reaped = tab[pid]
        total += own + reaped
        if below_jvm:
            workers += own + reaped
        elif comm == "java":
            jvm += own
            jit = _jit_threads(pid)
        todo.extend((k, below_jvm or comm == "java") for k in kids.get(pid, []))
    return {"total": total, "jvm": jvm, "pyworkers": workers, "jit": jit}


class Probe:
    """Counter readings for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._mgmt = self.jvm.java.lang.management.ManagementFactory
        self._codegen = (self.jvm.org.apache.spark.sql.catalyst.expressions
                         .codegen.CodeGenerator)
        self._codegen_metrics = (self.jvm.org.apache.spark.metrics.source
                                 .CodegenMetrics)
        self._rest = None

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mgmt.getGarbageCollectorMXBeans()) / 1e3

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, seconds compiling) since the JVM started."""
        return (self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
                self._codegen.compileTime() / 1e9)

    def heap_after_gc_mb(self) -> float:
        """Heap in use once full GCs stop freeing memory.  Python's
        collector runs first so py4j releases the JVM objects of dead
        Python proxies; between GCs, Spark's ContextCleaner drops the
        broadcast and shuffle blocks the previous GC made unreachable,
        which takes two or three rounds."""
        heap = self._mgmt.getMemoryMXBean()
        readings = []
        for _ in range(10):
            gc.collect()
            self.jvm.java.lang.System.gc()
            time.sleep(0.5)
            readings.append(heap.getHeapMemoryUsage().getUsed() / _MB)
            if len(readings) >= 4 and abs(readings[-1] - readings[-2]) < 1.0:
                break
        return readings[-1]

    def cached_mb(self) -> float:
        """Storage memory and disk held by persisted RDDs right now."""
        return sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo()) / _MB

    @staticmethod
    def plan_s(df) -> float:
        """Analysis + optimization + planning time of an executed frame,
        from its QueryPlanningTracker."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        for name in ("parsing", "analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs()
        return total / 1e3

    def group(self, group_id: str) -> dict:
        """Jobs, executed stages and tasks of one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group_id)
        stages = []
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages.append(s)
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def stage_bytes(self, stage_ids) -> tuple[int, int]:
        """(shuffle write bytes, spill bytes) summed over the attempts of
        the given stages, one REST call per stage: attribution by stage
        id, so bytes can be missed but never go negative."""
        if self._rest is None:
            ui = self.sc.uiWebUrl
            self._rest = f"{ui}/api/v1/applications/{self.sc.applicationId}"
        shuffle = spill = 0
        for s in stage_ids:
            with urllib.request.urlopen(f"{self._rest}/stages/{s}",
                                        timeout=10) as r:
                for attempt in json.load(r):
                    shuffle += attempt.get("shuffleWriteBytes", 0)
                    spill += attempt.get("diskBytesSpilled", 0)
        return shuffle, spill
