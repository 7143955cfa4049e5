"""Measurement helpers: process-tree memory and CPU from /proc, host context,
JVM counters, Spark status-tracker counts, and an in-memory span tracer."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, comm, utime+stime seconds) from /proc/<pid>/stat, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), comm, (int(fields[11]) + int(fields[12])) / _TICK


def process_tree(root: int) -> dict[int, tuple[str, float]]:
    """{pid: (comm, cpu_s)} for `root` and all its live descendants."""
    info, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = (info[pid][1], info[pid][2])
        todo.extend(children.get(pid, ()))
    return out


def pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class TreeSampler:
    """PSS of the driver, the JVM and the Python workers, sampled between
    ops (never while one is timed) at most once every `interval` seconds;
    keeps the peaks.  One sample costs about 25 ms, most of it the JVM's
    smaps_rollup, and a sampling thread would hold the driver's GIL and
    the JVM's mmap lock while an op runs."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.root = os.getpid()
        self.peak_total = 0.0
        self.peak = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        self.max_workers = 0
        self.history: list[tuple] = []  # (seconds since start, driver, jvm, workers) MB
        self._t0 = self._last = time.perf_counter()

    def sample(self) -> None:
        parts = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        workers = 0
        for pid, (comm, _cpu) in process_tree(self.root).items():
            if pid == self.root:
                parts["driver"] += pss_mb(pid)
            elif comm == "java":
                parts["jvm"] += pss_mb(pid)
            elif comm.startswith("python"):
                parts["pyworkers"] += pss_mb(pid)
                workers += 1
        self._last = time.perf_counter()
        self.history.append((round(self._last - self._t0, 2),
                             *(round(v) for v in parts.values())))
        self.peak_total = max(self.peak_total, sum(parts.values()))
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)
        self.max_workers = max(self.max_workers, workers)

    def maybe_sample(self) -> None:
        if time.perf_counter() - self._last >= self.interval:
            self.sample()


def tree_cpu_s() -> float:
    return sum(cpu for _comm, cpu in process_tree(os.getpid()).values())


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def calibration_s(rounds: int = 5) -> float:
    """Median time of a fixed pure-Python loop: host speed context only,
    never used to adjust a metric."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t)
    return sorted(times)[rounds // 2]


def jvm_counters(spark) -> dict:
    """Total GC time and current heap use, from the JVM's MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"gc_s": gc_ms / 1000, "heap_used_mb": heap / 2**20}


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks run under one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


class Tracer:
    """Spans kept in memory: (op_id, name, start, end, parent index)."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [self.op_id, name, time.perf_counter(), None, parent]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        covered = [0.0] * len(self.spans)
        for _op, _name, start, end, parent in self.spans:
            if parent is not None:
                covered[parent] += end - start
        return [s[3] - s[2] - c for s, c in zip(self.spans, covered)]

    def durations(self, op_id, name: str) -> float:
        return sum(s[3] - s[2] for s in self.spans if s[0] == op_id and s[1] == name)

