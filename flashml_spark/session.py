"""SparkSession construction for the engine.

The reference builds its session in ``FlashML.scala:60-71`` (Hive support,
Kryo, gzip parquet).  Our engine targets Spark 3.5+/4.x where the right
defaults are AQE (adaptive shuffle partition coalescing + skew-join
handling), Arrow for any pandas interchange, and a shuffle-partition count
sized to the local core count.  On a real cluster these settings carry over
unchanged; only ``master`` differs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flashml-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    Scale posture: AQE enabled so the 100 TB plan re-partitions at runtime
    (coalesce small shuffle partitions, split skewed ones); explicit
    shuffle-partition default only as the pre-AQE starting point.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the cores this
    process may run on, so an unconfigured session never oversubscribes
    its host.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # required for Python data sources that implement pushFilters
        # (sources/snapshot_source.py); inert otherwise
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
