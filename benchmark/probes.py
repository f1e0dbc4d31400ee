"""Readings taken from the JVM, Spark's status tracker and the host."""

from __future__ import annotations

import time


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gc_totals(spark) -> tuple[float, int]:
    """(seconds, collections) summed over the JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    ms = count = 0
    for b in beans:
        ms += max(0, b.getCollectionTime())
        count += max(0, b.getCollectionCount())
    return ms / 1000.0, count


def job_group_totals(sc, group: str) -> dict[str, int]:
    """Stages, tasks and failed tasks of every job run under ``group``."""
    tr = sc.statusTracker()
    stages = tasks = failed = 0
    for job in tr.getJobIdsForGroup(group):
        info = tr.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            st = tr.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"spark.stages": stages, "spark.tasks": tasks,
            "spark.tasks_failed": failed}


def storage_mb(sc) -> tuple[float, float]:
    """(memory, disk) MiB held by persisted RDDs, e.g. localCheckpoint
    seams; disk > 0 means blocks were evicted from memory to disk."""
    mem = disk = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
        disk += info.diskSize()
    return mem / 2**20, disk / 2**20


def release_blocks(spark) -> None:
    """Drop every persisted RDD and cached table and collect garbage, so
    each job iteration starts from the same empty block store."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark._jvm.System.gc()


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class HostCanary:
    """Host health for diagnosis only: the time of a fixed single-core
    Python loop, and the share of CPU time the hypervisor stole over the
    run.  Never used to adjust a metric."""

    def __init__(self):
        self.loops: list[float] = []
        self._t0 = _cpu_times()

    def loop(self) -> None:
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        self.loops.append((time.perf_counter() - t) * 1000.0)

    def readings(self) -> dict[str, float]:
        total, steal = _cpu_times()
        d_total = total - self._t0[0]
        loops = sorted(self.loops)
        return {"host.loop_ms": loops[len(loops) // 2] if loops else 0.0,
                "host.steal_pct": 100.0 * (steal - self._t0[1]) / d_total
                if d_total else 0.0}
