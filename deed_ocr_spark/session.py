"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import deed_ocr_spark

WORKER_DAEMON = "deed_ocr_spark.worker_daemon"

# The directory that holds the ``deed_ocr_spark`` package (or the zip it was
# imported from): Python workers must import the daemon module from any cwd.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(deed_ocr_spark.__file__)))


def start_with_worker_daemon(builder: SparkSession.Builder, master: str) -> SparkSession:
    """``builder.getOrCreate()``, with Python workers started through
    ``worker_daemon`` (pyspark imported outside Spark's archives, so no
    task re-reads their zip directories) when ``master`` is local.

    Only a local master: the package root is a path on the driver, which
    executors on other hosts need not have, and a daemon module they cannot
    import fails every Python task; there Spark's own daemon stays. The
    root is appended to the workers' ``PYTHONPATH`` after any
    ``spark.executorEnv.PYTHONPATH`` the session was given, never in its
    place (``SparkContext.environment`` is what each Python function ships
    to its workers)."""
    local = master.startswith("local")
    if local:
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    spark = builder.getOrCreate()
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if local and _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    return spark


def get_spark(
    app_name: str = "deed-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
) -> SparkSession:
    """Build a session tuned for the extraction workload.

    * Arrow enabled end-to-end (the input_hint mandate); small
      ``maxRecordsPerBatch`` because one record is a whole document whose
      spans can be large — bounds Python-worker memory (SURVEY §4.2).
    * AQE on (coalesces the small relational stages); shuffle partitions
      sized to cores for local mode rather than the 200 default.
    * Session timezone pinned UTC so timestamp comparisons match DuckDB.
    * Python workers start through ``worker_daemon`` on a local master
      (``start_with_worker_daemon``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return start_with_worker_daemon(builder, master)
