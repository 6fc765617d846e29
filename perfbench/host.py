"""Host sizing, memory readings and the machine-state control.

The session is sized from the host instead of from the defaults in
``oteldb_spark/session.py`` (32 cores, 48 GB of driver heap, which the
kernel OOM-kills on a 15 GB host).  Everything the run writes — Spark
local dirs, temp files, the result cache and the ingest store — lives
under one work directory inside the checkout; the warehouse is shared
by the runs of one checkout.
"""

from __future__ import annotations

import os
import time


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints without an
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    """Driver heap: a sixteenth of physical memory, between 1 and 8 GB.
    The JVM's RSS runs well past its heap (metaspace, code cache,
    Arrow/netty buffers), and the Python workers need room beside it.
    The workloads' live data is a few hundred MB; a larger heap only
    lets G1 grow the young generation further on some runs than on
    others, which makes the peak RSS wander by a third."""
    return max(1024, min(8192, total_mb // 16))


def session_env(repo_root: str, work_dir: str, warehouse: str) -> dict[str, str]:
    """Environment the Spark session is launched with.

    ``PYTHONPATH`` points the Python workers at the checkout: they are
    started by the JVM, not by this process, and fail with
    ``ModuleNotFoundError: oteldb_spark`` without it."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_DRIVER_MEM": f"{driver_mem_mb(mem_total_mb())}m",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": repo_root,
        "TMPDIR": tmp,
        # every JVM (the launcher and the driver): temp files in the work
        # directory, and no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={warehouse} pyspark-shell"
        ),
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pids(spark) -> tuple[str, int]:
    # this process and the gateway's java process (the driver JVM)
    return "self", spark.sparkContext._gateway.proc.pid


def reset_peak_rss(spark) -> None:
    """Restart the ``VmHWM`` high-water marks of this Python process and
    of the driver JVM at their current resident sets (``5`` written to
    ``/proc/<pid>/clear_refs``), so the peak read after the timed region
    leaves out set-up: fixture writing and the DuckDB oracle checks."""
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set of this Python process and of the driver JVM
    since ``reset_peak_rss``, in MB, read from each process's ``VmHWM``
    in ``/proc``."""
    py, jvm = _pids(spark)
    return _vm_hwm_kb(py) / 1024.0, _vm_hwm_kb(jvm) / 1024.0


def _python_loop() -> int:
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return acc


def calib_ms(spark, repeats: int = 5) -> float:
    """Machine-state control: a fixed pure-Python loop plus a fixed
    tiny Spark job, in ms — the fastest of ``repeats`` readings after
    one discarded warm-up (noise only ever adds time).  The work never
    changes, so a reading that moves means the machine moved."""
    readings = []
    for _ in range(repeats + 1):
        t0 = time.perf_counter()
        _python_loop()
        spark.range(0, 20_000, numPartitions=2).selectExpr("sum(id * 7 % 13)").collect()
        readings.append((time.perf_counter() - t0) * 1000.0)
    return min(readings[1:])
