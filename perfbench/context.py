"""The box and build a run was measured on: cores, memory, CPU steal and
load over the run, and the versions of the code, PySpark and Java."""

from __future__ import annotations

import os
import subprocess
from pathlib import Path


def _cpu_ticks() -> list[int]:
    # "cpu  user nice system idle iowait irq softirq steal ..."
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def _loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def _meminfo_kb(key: str) -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def status_mb(pid: int | str, key: str) -> float:
    """A memory field of /proc/<pid>/status (``VmRSS``, or ``VmHWM`` for the
    peak resident set), in MB; 0 if the process is gone."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class RunContext:
    """Samples /proc at the start and end of a run."""

    def __init__(self, root: Path):
        self.root = root
        self.ticks0 = _cpu_ticks()
        self.load0 = _loadavg()

    def record(self, spark=None) -> dict:
        ticks = [b - a for a, b in zip(self.ticks0, _cpu_ticks())]
        total = sum(ticks) or 1
        rec = {
            "nproc": os.cpu_count(),
            "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
            "cpu_steal_frac": round(ticks[7] / total, 5) if len(ticks) > 7 else None,
            "cpu_idle_frac": round(ticks[3] / total, 5),
            "loadavg_start": self.load0,
            "loadavg_end": _loadavg(),
            "git_commit": git_commit(self.root),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        }
        if spark is not None:
            import pyspark

            rec["pyspark"] = pyspark.__version__
            rec["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        return rec
