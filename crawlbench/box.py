"""What the benchmark knows about the machine it runs on.

Everything here reads `/proc` or the package sources; nothing imports
pyspark, so `run.py` can size Spark from it before the JVM starts.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time
from pathlib import Path

# A run whose hypervisor steal over the timed part exceeds this share of
# all CPU time is flagged in its record (and on stderr) instead of being
# kept silently: at 4 cores, 2% steal is already a visible slowdown.
STEAL_FLAG_PCT = 2.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_mb: int) -> str:
    """Spark driver heap for this box: a quarter of MemTotal, between
    1 and 8 GiB. In local mode the driver JVM is the only JVM; the rest
    of memory is left to the Python workers and the page cache."""
    gb = max(1, min(8, total_mb // 4 // 1024))
    return f"{gb}g"


def fit_spark_env(root: Path, work: Path) -> dict[str, str]:
    """Environment that fits Spark to this box, set before the JVM
    starts: driver memory through the package's SPARK_GRAFT_DRIVER_MEM
    hook, shuffle/spill dirs on local disk inside the work dir, and the
    checkout on the Python workers' import path."""
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(mem_total_mb()),
        "SPARK_LOCAL_DIRS": str(local),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


class Steal:
    """Hypervisor steal as a percentage of all CPU time between
    `start()` and `stop()`, from the aggregate line of /proc/stat."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return sum(vals), vals[7]

    def start(self) -> None:
        self._t0 = self._read()

    def stop(self) -> float:
        total, steal = self._read()
        dt = total - self._t0[0]
        return 100.0 * (steal - self._t0[1]) / dt if dt > 0 else 0.0


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of `root_pid` and all its descendants (the
    driver, its JVM, the pyspark daemon and every Python worker)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's RSS on a background thread while
    active; `peak_mb` is the largest sum seen."""

    def __init__(self, pid: int | None = None, interval_s: float = 0.1):
        self.pid = pid or os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(self.pid))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def source_digest(pkg: Path) -> str:
    """sha256 over the package's .py sources (path + bytes): identifies
    the measured code even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def describe(root: Path, spark) -> dict:
    """The self-describing part of every record."""
    import platform

    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root / "webcollector_spark"),
        "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
