"""Host stamp, throttle probe and process-tree memory for one run.

CPU-seconds come from ``bench._jvm_cpu`` and the throttle probe from
``bench._calibrate_cores``; both are imported from the frozen harness,
not copied. ``bench._jvm_cpu`` returns only the tree's total, so the
Python-worker share of it and the tree's RSS come from one walk of
``/proc`` here.
"""

from __future__ import annotations

import os
import platform
import threading

import bench


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def host_stamp(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": round(_meminfo_kb("MemTotal") / 1024),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def throttle_probe(secs: float) -> float:
    """Effective cores over a short busy-spin window (``bench``'s probe).
    Call only while no Spark session is live: the probe forks."""
    return bench._calibrate_cores(nproc(), secs)


def tree_cpu_s() -> float:
    """CPU-seconds of every live descendant (Spark JVM + Python workers)."""
    return bench._jvm_cpu()


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (parent pid, command name, CPU ticks incl. reaped children,
    RSS pages), from one read of each ``/proc/<pid>/stat``."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, rest = f.read().rsplit(") ", 1)
            parts = rest.split()
            ticks = sum(int(parts[i]) for i in (11, 12, 13, 14))
            table[int(pid)] = (int(parts[1]), head.split("(", 1)[1], ticks,
                               int(parts[21]))
        except (OSError, IndexError, ValueError):
            pass
    return table


def _descendants(table) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, row in table.items():
        kids.setdefault(row[0], []).append(p)
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def python_worker_cpu_s() -> float:
    """CPU-seconds of the Python processes under the Spark JVM (the
    PySpark daemon and its workers, where Arrow/pandas kernels run)."""
    table = _proc_table()
    ticks = sum(table[p][2] for p in _descendants(table)
                if table[p][1].startswith("python"))
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakMemory:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and its Python workers; the benchmark's own interpreter, which
    holds the oracle, is excluded) on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        table = _proc_table()
        kb = self._page_kb * sum(table[p][3] for p in _descendants(table))
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024.0
