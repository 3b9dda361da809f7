"""SparkSession bootstrap tuned for the engine.

Defaults target local[N] testing but every knob is the one you would
set on a real cluster: AQE on (runtime re-plan + skew-join handling),
shuffle partitions sized to cores (local) / data volume (cluster),
Arrow enabled for the Pandas-UDF extension operators, UTC session
timezone so results are oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sslr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores (or
    left to AQE coalescing with a high initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SSLR_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Freeing a landing (dedup._unland / CacheOwner.release) is meant
    # to drop a locally checkpointed RDD for good, and Spark warns
    # "cannot be recomputed after unpersisting" once per freed RDD.
    # Landed frames are MapPartitionsRDDs, so only that class's
    # logger is raised; every other logger keeps the WARN root level.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
