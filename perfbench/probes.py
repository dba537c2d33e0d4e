"""Counters read from outside the engine: /proc for the process tree and
the host, the JVM management beans, Spark's codegen metrics and its
status tracker. Nothing here changes what the engine does."""

from __future__ import annotations

import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, utime, stime) for every live process."""
    out: dict[int, tuple[int, int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue  # the process exited while we walked
        fields = data[data.rfind(b")") + 2:].split()
        # after comm: [1]=ppid [11]=utime [12]=stime
        out[int(pid)] = (int(fields[1]), int(fields[11]), int(fields[12]))
    return out


def _tree(table: dict[int, tuple[int, int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    pids, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in table:
            pids.append(p)
        stack.extend(children.get(p, []))
    return pids


def tree_cpu() -> tuple[float, float]:
    """(user, system) CPU seconds of this process and its live
    descendants: the JVM and the Python workers."""
    table = _proc_table()
    pids = _tree(table)
    return (
        sum(table[p][1] for p in pids) / _CLK,
        sum(table[p][2] for p in pids) / _CLK,
    )


def tree_pss_mb() -> float:
    """Proportional resident memory of the process tree: pages shared
    between processes (forked Python workers) are split, not counted
    once per process."""
    total = 0
    for pid in _tree(_proc_table()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue  # exited while we walked
    return total / 1024


def host_steal_s() -> float:
    """Cumulative CPU time the hypervisor gave to others, all CPUs."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / _CLK


class PeakRss:
    """Samples the process tree's proportional resident memory on a
    thread; ``peak`` is the largest sum seen. Use as a context manager."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_mb())


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM GC and JIT time (ms) and Spark codegen compile
    count and time (ms; the histogram keeps a sample, so time is count x
    sample mean)."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    return {
        "gc_ms": float(gc),
        "jit_ms": float(jit),
        "codegen_classes": float(n),
        "codegen_compile_ms": float(n * hist.getSnapshot().getMean()),
    }


class Window:
    """Counter deltas over a measured window: process-tree CPU, host
    steal, JVM GC/JIT and codegen."""

    def __init__(self, spark):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.cpu0 = tree_cpu()
        self.steal0 = host_steal_s()
        self.jvm0 = jvm_counters(spark)

    def close(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        u, s = tree_cpu()
        jvm = jvm_counters(self.spark)
        out = {k: jvm[k] - self.jvm0[k] for k in jvm}
        out.update(
            wall_s=wall,
            cpu_user_s=u - self.cpu0[0],
            cpu_sys_s=s - self.cpu0[1],
            steal_s=host_steal_s() - self.steal0,
        )
        return out


def session_layers(win: dict[str, float], start_s: float) -> dict[str, float]:
    """The ``session.*`` layer metrics from a closed Window."""
    out = {"session.start_s": start_s}
    for k in ("codegen_compile_ms", "codegen_classes", "jit_ms", "gc_ms",
              "cpu_user_s", "cpu_sys_s", "steal_s"):
        out[f"session.{k}"] = win[k]
    return out


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
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
    return jobs, stages, tasks


def pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method, so small samples work)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
