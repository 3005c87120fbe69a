"""Spans and Spark execution counters recorded from outside the engine.

A span wraps one call into a layer of the engine.  When tracing is on,
each span runs its Spark jobs under a job group of its own, and on
exit the tracer reads that group's jobs, stages, tasks, shuffle bytes
and spill from the Spark driver's status store.  When tracing is off a span
only records start and end, so the untraced run pays two clock reads
per call.

Spans stay in memory and are written out once, by ``dump``.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "shuffle_mb", "spill_mb")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    id: int
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Collects spans; reads job-group counters only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1].id if self._stack else None
        s = Span(name, time.perf_counter(), parent, next(self._ids))
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        if self.enabled:
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                s.counters = job_group_counters(self.spark, group)
            self.spans.append(s)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.counters,
                }) + "\n")


def job_group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages run and skipped, tasks, shuffle write MB and spill MB
    of every job Spark ran under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    out = dict.fromkeys(COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    stage_ids: set[int] = set()
    for jid in jobs:
        job = store.job(jid)
        out["stages"] += job.numCompletedStages()
        out["stages_skipped"] += job.numSkippedStages()
        out["tasks"] += job.numCompletedTasks()
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        for st in _stage_attempts(store, sid):
            if st.status().toString() != "COMPLETE":
                continue
            out["shuffle_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


def _stage_attempts(store, sid: int):
    data = store.stageData(
        sid, False, getattr(store, "stageData$default$3")(), False,
        getattr(store, "stageData$default$5")(),
    )
    it = data.iterator()
    while it.hasNext():
        yield it.next()


def jvm_memory_and_gc(spark) -> dict[str, float]:
    """Peak old-generation heap (MB), GC time (s) and GC count of the
    driver JVM, then the heap still live after a full collection (MB),
    read through ``java.lang.management``."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peak = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            peak = max(peak, pool.getPeakUsage().getUsed() / MB)
    gc_ms = gc_n = 0
    for bean in mf.getGarbageCollectorMXBeans():
        gc_ms += max(bean.getCollectionTime(), 0)
        gc_n += max(bean.getCollectionCount(), 0)
    # Python proxies pin their JVM objects until Python collects them, and
    # Spark's ContextCleaner frees broadcast and shuffle blocks only after
    # a GC has found their owners unreachable; collect, let the cleaner
    # run, collect again, so the figure does not depend on either timing.
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB
    return {"heap_old_peak_mb": peak, "gc_s": gc_ms / 1000.0, "gc_count": float(gc_n),
            "heap_live_mb": live}


def tree_cpu_s() -> float:
    """User plus system CPU time, in seconds, used so far by this process
    and every live descendant (the Spark JVM and any Python workers it
    forks), reaped children of each included."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time stolen from this host's CPUs since boot, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
