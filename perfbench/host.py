"""Host sizing, run isolation and host readings for one benchmark run.

`configure` sets, before the engine is imported, the environment the
engine reads: cores from the CPU affinity mask, a driver heap sized from
the cgroup memory limit or MemTotal, Spark local dirs and temp dirs inside
the run directory, a private store root, and PYTHONPATH so Spark's Python
workers can import the engine.
"""

from __future__ import annotations

import os
import resource
import sys

_MB = 1 << 20


def _cgroup_limit() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < (1 << 60):
            return int(raw)
    return None


def _meminfo_total() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def memory_limit() -> int:
    total = _meminfo_total()
    cg = _cgroup_limit()
    return min(total, cg) if cg else total


def driver_mem_mb(limit: int) -> int:
    """An eighth of the memory the run may use, within 1-2 GiB: the
    store is a few MB, and the machine may be shared."""
    return max(1024, min(2048, limit // 8 // _MB))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(repo_root: str, run_dir: str, cached: bool) -> dict[str, str]:
    """Set the engine's environment for this run; returns what was set."""
    mem = f"{driver_mem_mb(memory_limit())}m"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "CMW_DRIVER_MEM": mem,
        # the engine's default pins -Xms to the heap size; keep that, send
        # the JVM's temp files into the run dir, and skip the perf-data
        # file it would otherwise write under /tmp
        "CMW_DRIVER_XOPTS": f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (repo_root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "CMW_LAKEHOUSE": os.path.join(run_dir, "lake"),
        "CMW_CACHE": "1" if cached else "0",
        "CMW_EXTRA_CONF": ";".join(
            [
                "spark.ui.showConsoleProgress=false",
                f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            ]
        ),
    }
    os.environ.update(env)
    return env


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def snapshot(limit: int) -> dict:
    return {
        "cores": cores(),
        "mem_limit_mb": limit // _MB,
        "mem_total_mb": _meminfo_total() // _MB,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def peak_rss_mb(pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM `pid`."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    jvm = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) * 1024
        except OSError:
            pass
    return (own + jvm) / _MB


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until its JVM has exited (the gateway
    exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired; do not leave it running
            proc.kill()
            proc.wait(timeout=timeout)
