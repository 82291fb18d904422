"""Run-hygiene readings: machine load, foreign CPU, memory of the measured
process tree, and versions. Every run records them; none is discarded."""

from __future__ import annotations

import os

from mapreduce_sm_spark import benchwatch


def load1() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Memory:
    """Memory of the measured process tree, sampled right after the JVM's
    GC between cycles.

    live_mb: the largest, over samples, of the driver JVM's heap and
        non-heap in use (JMX) plus the resident memory of the Python
        processes (this one, the daemon, its workers). After a full GC this
        is what the run retains, so caches and leaked state show.
    rss_mb: the largest sum of each live process's own peak resident
        memory (VmHWM). It is recorded but is no end-to-end metric: the
        JVM's share follows when G1 chose to grow the heap, and moved by
        21% between runs of identical work."""

    def __init__(self, spark) -> None:
        self._mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.live_kb = 0
        self.hwm_kb = 0
        self.breakdown: dict[str, int] = {}

    def sample(self) -> None:
        jvm_kb = (self._mx.getHeapMemoryUsage().getUsed()
                  + self._mx.getNonHeapMemoryUsage().getUsed()) // 1024
        parts = {"jvm_heap_and_nonheap": jvm_kb}
        hwm = 0
        snap = benchwatch.snapshot() or {}
        for pid in benchwatch.descendants(snap, os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh if ":" in line)
                hwm += int(fields["VmHWM"].split()[0])
                name = fields["Name"].strip()
                if name.startswith("python"):
                    parts[name] = parts.get(name, 0) + int(fields["VmRSS"].split()[0])
            except (OSError, KeyError, ValueError):
                continue  # raced an exit, or a kernel thread without Vm fields
        self.hwm_kb = max(self.hwm_kb, hwm)
        live = self.last_kb = sum(parts.values())
        if live > self.live_kb:
            self.live_kb, self.breakdown = live, parts


def _steal_s() -> float | None:
    """Seconds of CPU the hypervisor gave to others (the `steal` column of
    /proc/stat), summed over CPUs."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


class ForeignCpu:
    """Average foreign CPU cores between start() and stop(): user-space
    processes outside this process tree, and CPU stolen by the hypervisor
    (other tenants of the host, invisible to /proc)."""

    def start(self) -> None:
        import time

        self._t0 = time.monotonic()
        self._s0 = benchwatch.snapshot()
        self._steal0 = _steal_s()

    def stop(self) -> dict:
        import time

        s1 = benchwatch.snapshot()
        steal1 = _steal_s()
        wall = time.monotonic() - self._t0
        out = {"foreign_cores": None, "steal_cores": None}
        if self._s0 is not None and s1 is not None and wall > 0:
            out["foreign_cores"] = benchwatch.foreign_cpu(self._s0, s1) / wall
        if self._steal0 is not None and steal1 is not None and wall > 0:
            out["steal_cores"] = (steal1 - self._steal0) / wall
        return out


def versions(spark) -> dict:
    import platform

    import pyspark

    jvm = spark._jvm
    return {
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "java_vm": jvm.System.getProperty("java.vm.name"),
        "python": platform.python_version(),
    }
