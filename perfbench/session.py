"""A Spark session sized for a small box, independent of ``bench.py``.

``local[n]`` with n = ``SPARK_GRAFT_CPUS`` or the core count, a driver
heap well under the machine's memory, and every scratch directory (spill,
JVM temp, warehouse, event log) inside the benchmark's work directory so
a run reads and writes only inside its checkout.  Each benchmark process
starts one JVM, so one workload's codegen cache never leaks into the
next one's timings.
"""

from __future__ import annotations

import os
import sys
import tempfile


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env.isdigit() and int(env) > 0 else (os.cpu_count() or 1)


def driver_memory_mb() -> int:
    """A quarter of physical memory, capped at 3 GiB: local mode runs every
    executor thread inside the driver JVM, and the Python workers and the
    benchmark itself need the rest."""
    total_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1024, min(3072, total_kb // 1024 // 4))


def start(root: str, work: str, *, event_log: bool = False):
    """Start the session.  ``root`` is the checkout (put on the workers'
    ``PYTHONPATH``); ``work`` holds every file the session writes."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files outside the checkout, from either JVM
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} -XX:-UsePerfData".strip()
    n = cores()
    # A run's JVM lives well under a minute and never reaches C2's steady
    # state; C2 compile threads then compete with the work and make
    # timings vary from JVM to JVM.  C1 only, and a fixed initial heap
    # (no resizing), make one fresh JVM's timings repeat.
    jopts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms1g"
    )
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", jopts)
        .config("spark.executor.extraJavaOptions", jopts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM has
    exited (PySpark would otherwise leave it to die after this process)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
