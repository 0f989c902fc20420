"""Measurement primitives: percentiles, /proc readers, spans and Spark
counters.  Everything here observes the program from outside; nothing
changes its configuration."""

from __future__ import annotations

import math
import os
import re
import time
from contextlib import contextmanager

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def quantile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (pct in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 50.0)


def tail(values: list[float]) -> dict:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    :data:`TAIL_MIN_BEYOND` samples strictly above it.

    With fewer samples than that allows (fewer than 20 distinct ones, so
    not even the median qualifies), the tail is the maximum and the record
    says so: ``pct`` is 100 and ``beyond`` is 0.
    """
    n = len(values)
    for pct in TAIL_LADDER:
        v = quantile(values, pct)
        beyond = sum(1 for x in values if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return {"pct": pct, "value": v, "beyond": beyond, "n": n}
    return {"pct": 100.0, "value": max(values), "beyond": 0, "n": n}


# --- /proc readers ---------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of a process and every live descendant,
    each with its reaped children.  Rooted at the benchmark's own process
    this covers the driver JVM, whose executor threads run the tasks, and
    the Python workers it forks."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
            todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


#: JVM thread-name prefixes (``comm``, 15 characters at most) by kind
THREAD_KINDS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("task", ("Executor task l",)),
)


def thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds of one process's live threads, by :data:`THREAD_KINDS`
    (``other`` for the rest)."""
    out = dict.fromkeys([k for k, _ in THREAD_KINDS] + ["other"], 0.0)
    tick = os.sysconf("SC_CLK_TCK")
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:  # the thread ended while we looked
            continue
        name = head.split("(", 1)[1]
        kind = next((k for k, pre in THREAD_KINDS if name.startswith(pre)), "other")
        out[kind] += sum(int(x) for x in rest.split()[11:13]) / tick
    return out


def cpu_steal_s() -> float:
    """Host-wide CPU steal so far, in seconds (``/proc/stat`` ``cpu``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# --- Spark counters ---------------------------------------------------------


class SparkProbe:
    """Reads job, stage, shuffle and GC counters of one SparkSession.

    Jobs are attributed through job groups: ``group(name)`` labels every
    job the calling thread launches, and :meth:`group_stats` sums what
    the status store recorded for that group's jobs.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        self._gc = mgmt.getGarbageCollectorMXBeans()
        self._heap = mgmt.getMemoryMXBean()
        self.live_heap_mb = 0.0  # largest heap in use right after a full GC

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        """Cumulative JVM garbage-collection time, in seconds."""
        return sum(max(0, g.getCollectionTime()) for g in self._gc) / 1000.0

    def jobs_so_far(self) -> int:
        """Spark jobs the status store holds: every job of the run, as
        long as fewer than ``spark.ui.retainedJobs`` (1000) ran."""
        return int(self._store.jobsList(None).size())

    def full_gc(self) -> float:
        """Run ``System.gc()``, which lets the ContextCleaner release the
        checkpoint and broadcast blocks of dropped DataFrames, note the heap
        still in use, and return how long it took."""
        t0 = time.perf_counter()
        self.spark._jvm.System.gc()
        dt = time.perf_counter() - t0
        used = self._heap.getHeapMemoryUsage().getUsed() / 2**20
        self.live_heap_mb = max(self.live_heap_mb, used)
        return dt

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group_stats(self, name: str) -> dict:
        """Jobs, stages, tasks, shuffle-written and spilled bytes of the
        jobs in one job group."""
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: count nothing
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            out["shuffle_bytes"] += int(st.shuffleWriteBytes())
            out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out


# --- spans ------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written out at exit.

    A span is ``(id, name, start, end, parent, op)``; times are seconds
    since the tracer started.  When disabled, :meth:`span` costs one
    branch.  ``self_s`` is the time the tracer spent on its own
    bookkeeping, Spark counter reads included.
    """

    def __init__(self, enabled: bool, probe: SparkProbe | None = None):
        self.enabled = enabled
        self.probe = probe
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.epoch = time.time()  # wall clock at _t0, to place foreign spans

    @contextmanager
    def span(self, name: str, op: str | None = None, spark_group: bool = False):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}" if (spark_group and self.probe) else None
        ctx = self.probe.group(group) if group else None
        if ctx:
            ctx.__enter__()
        rec["start"] = time.perf_counter() - self._t0
        self.self_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            b1 = time.perf_counter()
            rec["end"] = b1 - self._t0
            if ctx:
                ctx.__exit__(None, None, None)
                rec.update(self.probe.group_stats(group))
            self._stack.pop()
            self.self_s += time.perf_counter() - b1

    def add_span(self, name: str, start: float, end: float, op: str | None = None) -> None:
        """Record a span timed elsewhere (seconds since the tracer started)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": None, "op": op, "start": start, "end": end}
            )
