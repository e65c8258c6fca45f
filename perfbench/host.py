"""Host facts for the result record, and the load-shape checks.

Everything here reads `/proc` or the checkout; nothing is written.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import platform
import subprocess


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """Cumulative CPU time the hypervisor gave to other guests (the
    steal column of /proc/stat), summed over CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of a process, its live descendants and
    the calling process: the JVM, its Python workers and the Python
    driver process.
    Time the hypervisor steals is not charged to a process."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = (int(fields[11]) + int(fields[12])) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += cpu[pid]
    t = os.times()
    return total + t.user + t.system


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A sixteenth of host RAM, between 1 and 4 GiB: `get_spark`'s 48 GB
    default is more than a small host has, and a heap the passes fill
    keeps the JVM's peak RSS from depending on when it grew."""
    return f"{max(1024, min(4096, host_ram_mb() // 16))}m"


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def other_spark_pids(own: set[int]) -> list[int]:
    """Pids of JVMs running Spark's submit class, excluding `own`."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in own:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(d))
    return found


def tree_sha256(root: str, rel: str) -> str:
    """Hash of every .py file under root/rel (path and bytes)."""
    h = hashlib.sha256()
    base = os.path.join(root, rel)
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_state(root: str) -> dict:
    """HEAD and dirty flag; null when the checkout is not a git repo."""
    def git(*args):
        return subprocess.run(["git", "-C", root, *args], capture_output=True,
                              text=True, timeout=30)
    try:
        head = git("rev-parse", "HEAD")
    except (OSError, subprocess.TimeoutExpired):
        return {"git_head": None, "git_dirty": None}
    if head.returncode != 0:
        return {"git_head": None, "git_dirty": None}
    dirty = git("status", "--porcelain", "--untracked-files=no")
    return {"git_head": head.stdout.strip(),
            "git_dirty": bool(dirty.stdout.strip())}


def detector_defaults() -> dict:
    """Detector thresholds as the live signatures define them."""
    from tstoken import detect, streaming
    out = {}
    for fn in (detect.zscore_flags, detect.mad_flags, detect.ma_flags,
               detect.extrema_ensemble_flags,
               streaming.streaming_zscore_flags):
        out[fn.__name__] = {
            k: p.default for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty
            and isinstance(p.default, (int, float, bool, str))}
    return out


def versions(spark_version: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    return {"python": platform.python_version(), "spark": spark_version,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__}
