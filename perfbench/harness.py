"""Process set-up for one benchmark run: private work directories inside the
checkout, a pinned Spark session, and a teardown that leaves no JVM behind."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")

# Spark local[N]: one core of the 4 is left to the Python driver and the
# JVM's JIT and GC threads (the steadier of local[3] and local[4], README)
CORES = 3
DRIVER_MEMORY = "2g"

# environment switches the engine reads; cleared so that a run never picks
# up a shared tmpfs directory, an extra --conf list or a non-local master
_ENGINE_ENV = ("SPARK_GRAFT_TMPFS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_MASTER",
               "SPARK_LOCAL_DIRS_OVERRIDE", "SPARK_GRAFT_CPUS",
               "SPARK_GRAFT_TIMING", "SPARK_DRIVER_MEMORY")


class Workdir:
    """A private directory for tables, Spark scratch and temp files,
    removed on close."""

    def __init__(self) -> None:
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK_ROOT)
        self.spark_local = os.path.join(self.path, "spark-local")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.spark_local)
        os.makedirs(self.tmp)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def start_spark(work: Workdir):
    """Start a local SparkSession whose scratch and temp files stay in
    ``work``. Returns (spark, seconds the start took)."""
    for k in _ENGINE_ENV:
        os.environ.pop(k, None)
    # SPARK_LOCAL_DIRS wins over spark.local.dir, and Python's and the JVM's
    # temp files would otherwise land in /tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.spark_local
    os.environ["TMPDIR"] = work.tmp
    tempfile.tempdir = None
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        parallelism=CORES,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": work.spark_local,
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit, also when ``stop`` fails
    (a run terminated in the middle of a gateway call)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            _shutdown(gateway)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _shutdown(gateway) -> None:
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb() -> float:
    """Peak resident set size of this (the Python driver) process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
