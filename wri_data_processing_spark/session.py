"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
confs apply (AQE, adaptive coalescing, skew-join handling). Session timezone
is pinned to UTC so timestamp semantics are stable regardless of host tz
(testdata parquet stores naive UTC instants).

Python workers run through ``worker_daemon`` (``spark.python.daemon.module``).
Spark puts its own archives first on the workers' ``PYTHONPATH``: the
``$SPARK_HOME/python/lib`` zips and the ``spark-core`` jar. Every task's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
and on CPython 3.11 that re-reads the whole central directory of every zip
importer in the worker: 16 of them with Spark 4.1 (12 over ``pyspark.zip``,
2 over the py4j zip, 2 over the jar), most of a trivial task's worker CPU.
The daemon drops those archives before it forks any worker, so workers import
the same installed pyspark as the driver. It falls back to the stock daemon on the
archives when ``pyspark`` or ``py4j`` would not then resolve to a directory
install of the same version. ``spark.executorEnv.PYTHONPATH`` carries the
engine root, so the daemon and the engine modules that UDFs reference import
whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the ``wri_data_processing_spark`` package.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "wri-data-processing-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    AQE is enabled so runtime statistics re-plan shuffle partition counts,
    convert sort-merge joins to broadcast when the built side is small, and
    split skewed partitions — all critical at 100 TB where static planning
    guesses wrong.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark can only
        # read it as long — catalog.table() converts back to timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Managed-table home for bucketed layouts (sources/bucketed.py);
        # static conf, so it must be set at session build time.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/wri_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # No carriage-return progress bars on stderr: they pollute captured
        # bench/driver output with nondeterministic noise.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "wri_data_processing_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
