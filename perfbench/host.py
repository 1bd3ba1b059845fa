"""Host and process readings taken from outside the engine.

Everything here reads ``/proc`` or runs a small probe; nothing touches
Spark.  CPU and memory are read per process so the JVM's GC and JIT
threads and the pyspark worker processes are counted, which the
status store's executor CPU is not.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import time

_CLK = float(os.sysconf("SC_CLK_TCK"))


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone.  The name may hold spaces, so split after the last ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def own_cpu_s(pid: int) -> float:
    """utime + stime of one process (all its threads), in seconds."""
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _CLK


def seconds_since_start() -> float:
    """Wall seconds since this process was created (10 ms resolution)."""
    f = _stat_fields(os.getpid())
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return uptime - int(f[19]) / _CLK


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid`` from one pass over /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of the JVM, this driver process and
    the other descendants (the pyspark daemon and its workers)."""
    others = [p for p in descendants(os.getpid()) if p != jvm_pid]
    return {
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in others) / 1024.0,
    }


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran someone else on our virtual CPUs: it
    stretches wall time without adding CPU time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def sha1_probe_ns(n: int = 100_000, reps: int = 3) -> float:
    """Single-thread SHA-1 cost per 5-byte input, in ns (best of ``reps``).
    It does not touch the engine, so a shift in it between runs blames
    the host."""
    data = [f"{i:05d}".encode() for i in range(n)]
    sha1 = hashlib.sha1
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter_ns()
        for d in data:
            sha1(d).digest()
        best = min(best, (time.perf_counter_ns() - t) / n)
    return best


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def physical_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pinned_env(run_dir: str) -> dict[str, str]:
    """The deployment settings every run pins, so that neither the
    session's defaults (32 cores, a 32g heap) nor the caller's shell
    change the plan or the memory ceiling.  ``SPARK_GRAFT_CPUS`` sets
    both the local master's thread count and ``defaultParallelism``,
    which sizes the keyspace partitions and so the crack's take waves."""
    heap_mb = min(4096, physical_ram_mb() // 3)
    return {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def _sources_digest(root: str, package: str) -> str:
    """SHA-1 over the package's .py files, for checkouts without git."""
    h = hashlib.sha1()
    base = os.path.join(root, package)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(root: str, package: str, env: dict[str, str], spark) -> dict:
    """Where and on what a run ran.  Load and the SHA-1 probe are added
    by the caller before and after the run."""
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_mb": physical_ram_mb(),
        "pinned_env": env,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
        "git_sha": _git_sha(root),
        "sources_sha1": _sources_digest(root, package),
    }
