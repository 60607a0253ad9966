"""SparkSession factory.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The configs
below are chosen for cluster-scale behavior too: AQE (runtime re-plan,
partition coalescing, skew-join splitting) and Arrow for every Python
boundary. On a real cluster only ``master`` and the memory knobs change.

Two engine constants stop repeated calls from re-paying fixed costs:

* ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` = true.
  By default Spark switches AQE's final-stage shuffle optimizations off
  inside a cached plan, so every frame an operator pins keeps
  ``spark.sql.shuffle.partitions`` partitions (32 here, 64 after a
  union), however few rows it holds, and each tiny pin costs 33-65
  tasks to build and to scan. With the conf, AQE coalesces a pinned
  plan's final shuffle like any other plan's. Measured on perfbench
  ``dedup_rosters`` (400 documents, ``--trace 1``, 4-core host): tasks
  per pass 558 -> 60, task time 3.0 -> 1.1 s.
* ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`.
  Spark caps its generated-class cache at 100 entries, fewer than one
  dedup call needs, so the cache evicted a call's own classes before
  the next call could reuse them. A warm second call compiled again
  (``scripts/plan_fingerprint.py`` ``compiles=`` at sf0.01):
  ``dedup_minhash_groups`` 42 classes, ``dedup_incremental_rosters``
  195, ``similarity_ivfpq_topk`` 108. With the larger cache those
  three compile none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Generated classes kept compiled (Spark's default: 100). One cold
#: ``bench.py`` HEADLINE run compiles 1,547 distinct classes: 1,419 in
#: its sf0.001 warm-up, 128 more in the first sf0.1 pass (a second pass
#: compiled 40, classes whose source differs from call to call). Rounded
#: up with a third of headroom. ``scripts/plan_fingerprint.py`` prints
#: the count per query.
CODEGEN_CACHE_ENTRIES = 2048


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
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
