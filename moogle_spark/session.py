"""SparkSession factory tuned for the sandbox (local[N]) but written for a
real multi-executor cluster: every knob here is a plain Spark conf that
survives spark-submit --py-files unchanged."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "moogle_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        # local[N, 3]: allow 3 task attempts — local mode defaults to ONE
        # (any transient task failure kills the job; cluster default is 4)
        SparkSession.builder.master(f"local[{cores}, 3]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MOOGLE_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # the Python workers import this package too: put the directory
        # holding it on their path, whatever the caller's working dir
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
