"""Host facts, session sizing, the contention probe, memory sampling and
the between-runs state check.

Records are keyed by the host they were measured on: numbers from another
core count, CPU model or RAM size are a different baseline and are never
compared with these.
"""

from __future__ import annotations

import os
import platform
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * PAGE


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def driver_memory() -> str:
    """A quarter of host RAM, between 1 GiB and 8 GiB: the JVM and its
    Python workers share the host with the benchmark's own process."""
    mib = ram_bytes() // 4 // (1 << 20)
    return f"{max(1024, min(8192, mib))}m"


def contention_probe_ms(reps: int = 1) -> float:
    """Fixed pure-Python loop (the same as the repo bench's noise probe);
    median of ``reps``. A high reading means other load shared the host."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i ^ (i >> 3)
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2] * 1000.0


def host_stamp(spark) -> dict:
    import pyarrow
    import pyspark
    import sys

    return {
        "nproc": nproc(),
        "cpu_model": cpu_model(),
        "ram_mb": ram_bytes() // (1 << 20),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "jvm_max_heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() >> 20,
    }


def children() -> dict[int, list[int]]:
    """Parent pid -> child pids, over every process in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids = children()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total


class PeakSampler:
    """Calls ``sample()`` every ``interval`` seconds on a thread while the
    ``with`` block runs, and once more at its end, keeping the peak."""

    def __init__(self, sample, interval: float):
        self.sample = sample
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.sample())


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def leaked_persists(spark) -> int:
    """Persisted RDDs plus cached relations still registered, i.e. state one
    query leaves for the next. Each counts once."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs().size()
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return rdds + (0 if cache_empty else 1)


def clear_persists(spark) -> None:
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        rdds.get(rid).unpersist(True)
