"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and spark-submit
jobs share one tuned profile:

- AQE on (runtime shuffle-partition coalescing + skew splitting) — the
  reassembly shuffle benefits directly.
- Arrow enabled with a bounded records-per-batch so one Arrow batch of
  mega-pages can't blow Python-worker memory.
- shuffle partitions sized to the parallelism level (>= 2x cores) rather
  than the 200 default, so local runs don't pay 200-task scheduling
  overhead while cluster runs can override via conf.
- Python workers import the installed pyspark (``worker_daemon``, set by
  ``_daemon_conf`` on local masters): with ``pyspark.zip`` on their path
  each task's ``importlib.invalidate_caches()`` re-reads the Spark
  archives (~0.2 s a task) and each daemon compiles pyspark from the zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _daemon_conf(master: str | None, package_root: str) -> dict:
    """The worker daemon module when workers, which start in this driver's
    cwd with its PYTHONPATH, can import this package from package_root."""
    if master != "local" and not (master or "").startswith("local["):
        return {}
    search = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    root = os.path.realpath(package_root)
    if os.path.isdir(root) and root in {os.path.realpath(p) for p in search if p}:
        return {"spark.python.daemon.module": "pdfredact_spark.worker_daemon"}
    return {}


def get_spark(
    master: str | None = None,
    app_name: str = "pdfredact-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    # Only force a master when one is explicitly requested (arg or env):
    # under spark-submit the master comes from the launcher and must win.
    master = master or os.environ.get("SPARK_MASTER") or None
    if shuffle_partitions is None:
        if master and master.startswith("local["):
            # local[N] or local[N,maxFailures] or local[*]
            inner = master[6:-1].split(",")[0]
            cores = (os.cpu_count() or 8) if inner == "*" else int(inner)
            shuffle_partitions = max(8, 2 * cores)
        else:
            shuffle_partitions = max(8, 2 * (os.cpu_count() or 8))

    b = SparkSession.builder
    if master:
        b = b.master(master)
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for k, v in {**_daemon_conf(master, package_root), **(extra or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
