"""Host-fitted Spark session, host fingerprint and resource probes.

The session goes through the package's own ``get_spark`` so every engine
setting stays the shipped one; only what depends on the host is set
here: cores from the CPU affinity mask (``nproc``), driver memory from
``/proc/meminfo`` as both the initial and the maximum heap (the way a
Spark worker launches its executors; a heap left to grow from 1/64 of
RAM made GC work and peak RSS vary from run to run), a ``PYTHONPATH``
the Python workers inherit, and an uncompressed, non-rolling event log
(Spark 4.1 otherwise writes a directory) under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import time

MIN_DRIVER_MB = 1024
MAX_DRIVER_MB = 4096


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_mem_mb() -> int:
    """A fifth of MemTotal, clamped: the machine is shared, and the
    Python workers need room beside the JVM heap."""
    return max(MIN_DRIVER_MB, min(MAX_DRIVER_MB, meminfo_kb("MemTotal") // 5 // 1024))


def start_session(root: str, work: str, app: str):
    """Return ``(spark, cores)``; the run's Spark files all live in ``work``."""
    cores = nproc()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    events = os.path.join(work, "events")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (events, local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from crawler_pyspider_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench_{app}",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_mem_mb()}m",
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_mem_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    return spark, cores


def _version(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({type(e).__name__})"
    text = (out.stderr or out.stdout).strip().splitlines()
    return text[0] if text else "unknown"


def fingerprint() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": meminfo_kb("MemTotal"),
        "driver_mem_mb": driver_mem_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "java": _version(["java", "-XX:-UsePerfData", "-version"]),
    }


def calibrate(seconds: float = 0.25) -> float:
    """Busy-loop operations per second on one core (the same loop as
    ``tools/cpu_ceiling.py``), so host weather shows beside each run."""
    end = time.monotonic() + seconds
    x, n = 1, 0
    t0 = time.monotonic()
    while time.monotonic() < end:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) % (1 << 31)
        n += 10_000
    return (n + (x & 1)) / (time.monotonic() - t0)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict:
    """Peak RSS (VmHWM) of the JVM and of the processes under it (the
    pyspark daemon and its Python workers), and their sum."""
    jvm = spark.sparkContext._gateway.proc.pid
    kids = _children()
    todo, workers = list(kids.get(jvm, [])), []
    while todo:
        pid = todo.pop()
        workers.append(_hwm_kb(pid) / 1024.0)
        todo.extend(kids.get(pid, []))
    jvm_mb = _hwm_kb(jvm) / 1024.0
    return {"total": jvm_mb + sum(workers), "jvm": jvm_mb, "workers": workers}


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total / 1e6
