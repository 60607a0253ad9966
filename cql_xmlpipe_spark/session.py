"""SparkSession factory.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The configs
below are chosen for cluster-scale behavior too: AQE (runtime re-plan,
partition coalescing, skew-join splitting) and Arrow for every Python
boundary. On a real cluster only ``master`` and the memory knobs change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical RAM, capped at 48g. A fixed 48g default exceeded
    smaller hosts' RAM, and the JVM died mid-run there."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, ram // 2**31))}g"


def get_spark(
    app_name: str = "cql-xmlpipe-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with the engine's standard conf.

    AQE is on so shuffle partition counts self-tune at runtime and skewed
    join partitions split; session timezone is pinned to UTC so timestamp
    rendering is deterministic (the reference's ``java.util.Date.toString``
    output is JVM-default-TZ dependent — we pin instead, documented
    divergence).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp
        # type, so read as long and convert in the source registry.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
