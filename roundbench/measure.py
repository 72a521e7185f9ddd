"""Host-side readers: process-tree CPU, driver peak RSS, host steal, warehouse
size on disk, and the run-context record that lets a reader tell host noise
from a regression."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we listed it
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant — the driver, the JVM and the JVM's Python workers. Each
    process counts its own user+system time plus that of its reaped
    children, so a worker that already exited is still counted once."""
    root = os.getpid() if root is None else root
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        stack.extend(kids.get(pid, ()))
    return total / CLK_TCK


def steal_s() -> float:
    """Host-wide steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK


def _status_kb(field: str) -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def reset_peak_rss() -> None:
    """Reset this process's peak RSS (VmHWM) to its current RSS, so that
    ``peak_rss_mb`` covers only what runs after the reset."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def rss_mb() -> float:
    """Resident set of this Python process now."""
    return _status_kb("VmRSS") / 1024.0


def peak_rss_mb() -> float:
    """Peak resident set of this Python process since the last reset."""
    return _status_kb("VmHWM") / 1024.0


def dir_usage(root: Path) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    n = b = 0
    for p in root.rglob("*"):
        if p.is_file():
            n += 1
            b += p.stat().st_size
    return n, b


def source_digest(root: Path) -> str:
    """sha256 over the engine's sources: identifies the code measured even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((root / "dumb_crawler_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_sha(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class RunContext:
    """What the run ran on, plus host steal and load over the run."""

    def __init__(self, root: Path):
        self.root = root
        self.t0 = time.time()
        self.steal0 = steal_s()
        self.load0 = os.getloadavg()[0]

    def record(self, spark, driver_memory: str) -> dict:
        jvm = spark.sparkContext._jvm
        return {
            "git_sha": git_sha(self.root),
            "source_sha256": source_digest(self.root),
            "nproc": nproc(),
            "spark_version": spark.version,
            "java_version": jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": driver_memory,
            "wall_s": round(time.time() - self.t0, 3),
            "steal_s": round(steal_s() - self.steal0, 3),
            "loadavg_1m_start": self.load0,
            "loadavg_1m_end": os.getloadavg()[0],
        }
