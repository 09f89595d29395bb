"""Statistics, /proc probes and run stamps shared by the workloads."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import threading

# Percentiles the tail is chosen from, highest first; p50 when none fits.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile that still has at least ten samples
    beyond it, with its label. Below 40 samples that is at most the
    median, which stands in (fewer than 20 support no tail at all)
    rather than a maximum that one slow sample sets."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if round(n * (100.0 - q) / 100.0, 6) >= 10:
            return percentile(values, q), f"p{q:g}"
    return percentile(values, 50.0), "p50"


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


# --- /proc probes -----------------------------------------------------------


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each page shared between
    processes divided among them (Python workers forked from one
    daemon share most of their pages)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> set[int]:
    """``root`` and every process below it."""
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return seen


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _parent(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return 0


def tree_memory(root: int) -> dict[int, int]:
    """Memory in kB (PSS) of ``root`` and its Java and Python
    descendants (the Python driver, its JVM and the JVM's Python
    workers), by pid. A JVM child that is still a JVM image is the
    JVM spawning a command: until it execs, it shares the JVM's address
    space, and its PSS would count the whole JVM a second time."""
    out = {}
    for pid in descendants(root):
        exe = _exe(pid)
        if pid == root or exe.startswith("python") or (
                exe.startswith("java") and not _exe(_parent(pid)).startswith("java")):
            out[pid] = _pss_kb(pid)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, used so far by ``root`` and its
    live descendants, each with its reaped children (the JVM's Python
    workers end up in their daemon's). Time the hypervisor steals from
    the machine is not in it, so it does not grow when the host is busy
    the way wall time does."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended since it was listed
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the process tree's memory every ``period`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_memory(os.getpid())
        mb = sum(rss.values()) / 1024.0
        if mb > self.peak_mb:
            self.peak_mb = mb
            self.peak_by_process = {f"{_comm(p)}:{p}": kb / 1024.0 for p, kb in rss.items()}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_iowait_pct(before: list[int], after: list[int]) -> tuple[float, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return 100.0 * d[7] / total, 100.0 * d[4] / total


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, n) for n in files if n.endswith(".parquet"))
    return out


# --- run stamps -------------------------------------------------------------


def source_digest(root: str, package: str) -> str:
    """sha1 over the package's Python sources, for checkouts that are
    not git repositories."""
    h = hashlib.sha1()
    pkg = os.path.join(root, package)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, pkg).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def git_sha(root: str) -> str | None:
    """HEAD of ``root`` when it is itself a git checkout, else None."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def versions() -> dict:
    import duckdb
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__}


def cpus() -> int:
    return len(os.sched_getaffinity(0))

