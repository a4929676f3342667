"""SparkSession factory tuned for the link-graph workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "graph_python_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local session; parallelism defaults to $SPARK_GRAFT_CPUS, else
    the number of CPUs this process may run on (``os.sched_getaffinity``).

    Shuffle partitions track core count (not Spark's default 200) so tiny
    iterations don't over-parallelize; AQE coalesces at larger scale.
    """
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS")
                               or len(os.sched_getaffinity(0)))
    shuffle = shuffle_partitions or cores
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
