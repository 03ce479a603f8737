"""Host stamp and memory figures, read from /proc.

The stamp lets a slow run on a contended host be told apart from a slow
program: CPUs, load average at start and end, CPU steal over the run,
the Spark thread count and heap, and the library versions.
"""

from __future__ import annotations

import os
import platform


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostStamp:
    def __init__(self):
        self.load_start = _loadavg()
        self.cpu_start = _cpu_times()

    def finish(self, spark_threads: int | None,
               driver_heap: str | None) -> dict:
        cpu_end = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu_start, cpu_end)]
        total = sum(delta[:8]) or 1
        import duckdb
        import pyarrow
        import pyspark
        return {
            "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "loadavg_start": self.load_start,
            "loadavg_end": _loadavg(),
            "cpu_steal_pct": round(100.0 * delta[7] / total, 2),
            "spark_master": (f"local[{spark_threads}]"
                             if spark_threads else None),
            "driver_heap": driver_heap,
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "pyspark": pyspark.__version__,
        }


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def reset_peak_rss(pid: int | str = "self") -> None:
    """Set a process's VmHWM back to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")
