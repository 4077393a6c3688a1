"""SparkSession factory.

Scale posture: AQE enabled (runtime coalesce + skew-join splitting), UTC
session timezone (oracle comparability), Arrow enabled (fast pandas
interchange for the few Pandas-UDF operators). ``spark.sql.shuffle.partitions``
defaults to 32 (``SPARK_GRAFT_SHUFFLE`` or ``shuffle_partitions`` override
it), whatever the core count; AQE coalesces it down at runtime, except in
a persisted frame, which keeps the full count (why an append into an
existing table rebalances: ``sources/writers.py`` notes). On a real cluster
the deployer sets the count (rule of thumb: 2-3× total executor cores, or
rely on AQE coalescing from a higher initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "yelp_business_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a cluster, pass ``master=None`` after setting
    ``spark.master`` externally, or pass the cluster URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Driver testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects
        # by default; read as long and convert in sources/readers.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
