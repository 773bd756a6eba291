"""Machine-derived session sizing and host evidence for each run."""

from __future__ import annotations

import os
import time


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


# Driver heap: the largest power of two within a quarter of the memory
# available at start, within these bounds. The benchmark's inputs are small;
# the cap keeps the JVM from outgrowing a shared host the way the engine's
# 64g default does, and the power-of-two step keeps the heap -- and with it
# the JVM's resident memory -- the same from run to run while other tenants'
# use of the host drifts.
HEAP_SHARE = 0.25
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096


def size_session(run_dir: str) -> dict:
    """Set the engine's deployment overrides from this machine and point every
    scratch location of Spark, the JVM and Python into ``run_dir``.

    Must run before the JVM starts. Returns the chosen values."""
    heap_mb = HEAP_MIN_MB
    while heap_mb * 2 <= min(HEAP_MAX_MB, mem_available_mb() * HEAP_SHARE):
        heap_mb *= 2
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # JVM temp files and perf data stay inside the run directory too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # The driver heap is committed at its full size with a fixed young
        # generation, so the JVM's resident memory follows the data it
        # retains rather than run-to-run heap-resizing decisions.
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Xms{heap_mb}m -Xmn{heap_mb // 4}m" pyspark-shell'
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "mem_available_mb": mem_available_mb(),
        "local_dirs": os.path.relpath(local),
    }


def probe_s() -> float:
    """Single-thread fixed-work probe: identical work every time, so drift
    between runs is the host, not the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_000_007
    if acc < 0:
        raise AssertionError
    return time.perf_counter() - t0


def loadavg() -> float:
    return os.getloadavg()[0]


def reset_hwm(pid: int | str = "self") -> None:
    """Reset a process's VmHWM to its current resident memory."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def hwm_mb(pid: int | str = "self") -> float:
    """High-water resident memory (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
