"""Host pinning, the stale-JVM guard, and host/memory records."""

from __future__ import annotations

import os
import time

_SPARK_JVM_MARK = "org.apache.spark.deploy.SparkSubmit"


def pin_environment(work_dir: str, repo_root: str) -> dict[str, str]:
    """Set the Spark environment for this host before any session starts.

    - ``SPARK_GRAFT_CPUS`` is the usable CPU count (what ``nproc``
      reports), so local[N] matches the host.
    - ``SPARK_DRIVER_MEMORY`` is a quarter of RAM, capped at 2 GiB: the
      session factory's 48g default is above this host's memory, and a
      fixed heap keeps the peak resident set comparable between runs.
    - ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir``
      point into the run's work directory, and the JVM writes no perf-data
      file, so a run writes nothing outside the checkout.
    - ``PYTHONPATH`` carries the repo root, which Python workers need to
      import the engine.
    """
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(2048, ram_mb() // 4)
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": " ".join(
            o for o in (os.environ.get("SPARK_SUBMIT_OPTS", ""), jvm_opts) if o
        ),
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs visible to this process."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if _SPARK_JVM_MARK.encode() in cmd:
            pids.append(int(name))
    return pids


def wait_no_spark_jvm(grace_s: float = 20.0) -> list[int]:
    """Wait up to ``grace_s`` for other Spark JVMs to exit; returns the
    pids still running (empty when the host is clear)."""
    deadline = time.monotonic() + grace_s
    while True:
        pids = spark_jvms()
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.5)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_record() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram_mb(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_before": list(os.getloadavg()),
    }
