"""Host facts and process accounting, read from ``/proc`` (no extra package).

- ``host_slots`` / ``driver_memory``: size the Spark session from the host
  that runs the benchmark instead of the engine's defaults.
- ``host_info``: the facts every result records, so numbers from different
  hosts are never compared by accident.
- ``spark_processes`` / ``peak_rss_mb`` / ``python_worker_cpu_s``: the driver
  JVM and its Python workers, seen from outside the program.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_slots() -> int:
    """CPUs this process may run on (what ``nproc`` reports without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    """Physical RAM, capped by the cgroup memory limit when one is set."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def driver_memory(ram: int) -> str:
    """Driver heap: a quarter of RAM, between 1 GiB and 2 GiB. The workloads
    are sized to fit the floor; the cap keeps the benchmark a small tenant on
    a shared host."""
    mib = ram // 4 // (1 << 20)
    return f"{max(1024, min(2048, mib))}m"


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_sha(root: str) -> str:
    """Digest of the program's sources (the engine package and the query
    entry module), for checkouts that are not git repositories."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "crawler_spark")):
        files.extend(os.path.join(d, n) for n in names if n.endswith(".py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_info(root: str, spark_version: str) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    return {
        "nproc": host_slots(),
        "ram_gib": round(ram_bytes() / (1 << 30), 2),
        "cpu": cpu_model(),
        "python": platform.python_version(),
        "spark": spark_version,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "git_sha": git_sha(root),
        "source_sha": source_sha(root),
    }


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else ():
        kids = _read(f"/proc/{pid}/task/{task}/children")
        if kids:
            out.extend(int(k) for k in kids.split())
    return out


def spark_processes(jvm_pid: int) -> tuple[int, list[int]]:
    """The driver JVM and every Python process below it (the
    ``pyspark.daemon`` and the workers it forks)."""
    python, todo = [], _children(jvm_pid)
    while todo:
        pid = todo.pop()
        cmd = _read(f"/proc/{pid}/cmdline") or ""
        if "python" in cmd:
            python.append(pid)
        todo.extend(_children(pid))
    return jvm_pid, python


def _status_kb(pid: int, field: str) -> int:
    text = _read(f"/proc/{pid}/status") or ""
    for line in text.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (``VmHWM``) of the driver JVM plus the Python
    workers alive now, in MiB. Each process's own peak is summed, so this
    is an upper bound on the simultaneous peak."""
    jvm, python = spark_processes(jvm_pid)
    kb = _status_kb(jvm, "VmHWM") + sum(_status_kb(p, "VmHWM") for p in python)
    return kb / 1024.0


def cpu_seconds(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and of its reaped children."""
    text = _read(f"/proc/{pid}/stat")
    if not text:
        return 0.0
    utime, stime, cutime, cstime = text.rsplit(")", 1)[1].split()[11:15]
    return (int(utime) + int(stime) + int(cutime) + int(cstime)) / _CLK_TCK


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds spent so far in the Python side of the Spark boundary:
    the daemon, its live workers, and workers that already exited (reaped
    into the daemon's child times)."""
    _, python = spark_processes(jvm_pid)
    return sum(cpu_seconds(p) for p in python)


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _CLK_TCK
