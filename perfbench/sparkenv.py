"""Spark session, process bookkeeping and memory readings for the benchmark.

The session mirrors ``tests/conftest.py`` (stock ``SparkSession.builder``)
rather than ``dbldatagen_spark.session.tuned_builder``; NOTES.md records
why.  Every file Spark or Python writes goes under the benchmark's scratch
directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

DRIVER_MEMORY = "4g"
# A fixed heap and young generation: with G1's adaptive sizing the peak
# resident set depended on GC timing (30% run-to-run spread measured).
YOUNG_GEN = "512m"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(root: str, scratch: str) -> None:
    """Must run before pyspark launches the JVM: Python workers for pandas
    UDFs import ``dbldatagen_spark`` through ``PYTHONPATH``, and temporary
    files (gateway handshake, Arrow spills) land in the scratch tree."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)


def start_session(scratch: str):
    """Launch the JVM and return ``(spark, seconds)``."""
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    tmp = os.path.join(scratch, "tmp")
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dbldatagen_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(scratch, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_jvm(spark) -> float:
    """One tiny job, so JVM class loading and the first codegen are not
    charged to the first warm-up op."""
    t0 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    return (_vm_hwm_kb(pid) + _vm_hwm_kb("self")) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit (it
    exits on stdin EOF; Python workers die with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
