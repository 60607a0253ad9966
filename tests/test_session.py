"""Session factory defaults."""

from __future__ import annotations

import os

from cql_xmlpipe_spark.session import default_driver_memory


def test_default_driver_memory_below_physical_ram():
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap must fit the host:
    a default above physical RAM kills the JVM once the heap grows."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) and int(mem[:-1]) * 2**30 < ram


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_call_compiles_nothing(spark, sf_dir):
    """A repeated dedup call reuses its generated classes. With Spark's
    100-entry codegen cache they were evicted within the call and
    compiled again every time."""
    from cql_xmlpipe_spark.operators.dedup import unpersist_intermediates
    from cql_xmlpipe_spark.plans import QUERIES

    def call():
        out = QUERIES["dedup_minhash_groups"](spark, sf_dir)
        out.collect()
        unpersist_intermediates(out)

    call()
    before = _compiles(spark)
    call()
    assert _compiles(spark) - before == 0


def test_pinned_tiny_frame_is_coalesced(spark):
    """AQE sizes a pinned frame's final shuffle like any other plan's,
    so a tiny pinned aggregate is not stored in
    ``spark.sql.shuffle.partitions`` near-empty blocks."""
    from pyspark.sql import functions as F

    from cql_xmlpipe_spark.operators.dedup import Staging

    sc = spark.sparkContext._jsc.sc()

    def stored() -> dict[int, int]:
        return {i.id(): i.numPartitions() for i in sc.getRDDStorageInfo()}

    before = stored()
    with Staging() as st:
        tiny = st.pin(spark.range(64).groupBy((F.col("id") % 3).alias("k")).count())
        assert tiny.count() == 3
        new = {k: v for k, v in stored().items() if k not in before}
    assert len(new) == 1
    assert list(new.values())[0] < int(spark.conf.get("spark.sql.shuffle.partitions"))
