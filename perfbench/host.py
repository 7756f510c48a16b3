"""Host sizing, the Spark session's lifetime, and host facts.

The session is sized from the host it runs on: ``local[nproc]`` and a
driver heap of a quarter of ``MemAvailable`` (at most 2 GiB, which the
workloads' inputs leave ample room in), fixed and touched up front
(``KASKADA_SPARK_PRETOUCH``): a heap that grows during the run makes
page-fault storms in a VM, which shows up as run-to-run noise. Every
scratch path Spark, the JVM and the Python workers use lies under the
run's work directory, inside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import tempfile
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def driver_memory_mb() -> int:
    avail_mb = meminfo_kb("MemAvailable") // 1024
    return max(1024, min(2048, avail_mb // 4))


def configure_env(root: str, work: str, cpus: int, mem_mb: int) -> None:
    """Environment the session and its Python workers inherit; must run
    before ``kaskada_spark.session`` is imported (it reads the CPU count
    at import)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches the directory it first saw
    os.environ["KASKADA_SPARK_PRETOUCH"] = "1"
    # collected timestamps come back as naive local datetimes: make local
    # time UTC, the session time zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the program from the checkout, whatever the
    # launching directory
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def start_spark(work: str, cpus: int):
    from kaskada_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.local.dir": os.path.join(work, "tmp"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the next session in this process launches a JVM of its own
    SparkContext._gateway = None
    SparkContext._jvm = None


def steal_ticks() -> int:
    """Time the hypervisor gave this VM's CPUs to others, summed over
    CPUs, in clock ticks (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process's tree (the driver, the
    JVM, the Python workers), children already reaped included. Time the
    hypervisor steals from the VM is not in it."""
    ticks = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in this
    process's tree: the driver, the JVM and the Python workers."""
    total_kb = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources: identifies the code
    under test where no git metadata is available."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(root, "kaskada_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def host_facts(root: str, cpus: int, mem_mb: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    cpu_model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu_model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": cpus,
        "cpu_model": cpu_model,
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "mem_available_mb": meminfo_kb("MemAvailable") // 1024,
        "driver_memory_mb": mem_mb,
        "kernel": platform.release(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
    }
