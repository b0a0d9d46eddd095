"""SparkSession builder with scale-appropriate defaults.

Local mode stands in for a multi-executor cluster; every config here is
what we would ship in spark-defaults on a 1000-executor cluster reading
100 TB (AQE on, skew-join on, Arrow transport for the pandas-UDF stages,
shuffle partitions sized to cores rather than the 200 default). The
Python workers are forked from `nerpii_spark.daemon`, which stops them
re-reading pyspark.zip at every task start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nerpii_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    # the workers import this checkout whatever the caller's cwd, which
    # still comes first on their sys.path
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("NERPII_SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "nerpii_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_partitions(df, min_parts: int | None = None):
    """Shim for small-file local inputs: if `df`'s scan yields fewer
    partitions than the session's parallelism, repartition up so
    CPU-heavy per-row stages (shingling, hashing, HOF scans) use every
    core. On a production cluster the input is already split by
    spark.sql.files.maxPartitionBytes (a 100 TB scan arrives in ~10^6
    partitions) and this returns `df` unchanged — the repartition only
    fires in the few-small-files regime where the shuffle it adds is
    trivially cheap (measured here: the sf0.1 documents parquet arrives
    as 3 partitions on 32 cores, serializing every downstream
    interpreted-HOF stage)."""
    spark = df.sparkSession
    if min_parts is None:
        min_parts = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
