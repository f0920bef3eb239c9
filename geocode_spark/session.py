"""SparkSession factory tuned for the engine.

Local-mode testing runs on local[N]; the SQL configs are what we would ship
in spark-submit --conf for a real multi-executor cluster (AQE, Arrow, sensible
shuffle parallelism). UTC session timezone pins timestamp semantics so the
DuckDB oracle (UTC-naive) compares cleanly.

Every session runs its Python workers from the engine's worker module,
`pyspark_geocode_worker` at the repository root. PySpark's stock worker
calls `importlib.invalidate_caches()` before each task, which under
CPython 3.11 re-reads pyspark.zip's whole directory once per zip importer:
about 0.25 CPU-s per task, whatever the row count. The module installs a
guard that re-reads an archive only when its stat (mtime, size, inode)
changed, so a zip shipped with `addPyFile` mid-session, or replaced in
place, still imports as before. The daemon imports the module from the
workers' PYTHONPATH, so the session puts the repository root there
itself: a driver started from any directory gets a daemon that starts.
That path is the driver's checkout, so this wiring assumes the workers
share the driver's filesystem, as they do in local mode; on a cluster the
module would have to be shipped to the executors first. The `spark-submit`
jobs (`jobs/*.py`) build their own sessions and run the stock worker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_MODULE = "pyspark_geocode_worker"


def get_spark(
    app_name: str = "geocode-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    small_input: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local[N] core count; default $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: default = parallelism (local mode: ~cores, not 200).
    small_input: True splits MB-scale single-file inputs into enough scan
      partitions to feed every core (fixture/bench-only knobs — a production
      table gets its parallelism from file count, so the 128 MB default
      stays). Default: $SPARK_GRAFT_SMALL_INPUT, else False.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    if small_input is None:
        small_input = os.environ.get("SPARK_GRAFT_SMALL_INPUT", "0") == "1"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", WORKER_MODULE)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    )
    if small_input:
        builder = (
            builder.config("spark.sql.files.maxPartitionBytes", "524288")
            .config("spark.sql.files.openCostInBytes", "65536")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
