"""Scale-pattern tests: salted aggregation equivalence, bucketed
co-located joins (no exchange), streaming dedup."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from cql_xmlpipe_spark.operators.skew import salted_agg, with_salt
from cql_xmlpipe_spark.sources.registry import load_table
from cql_xmlpipe_spark.streaming.dedup import dedup_stream


SF = "/root/testdata/sf0.001"
DEC = "decimal(30,8)"


def test_salted_agg_equals_plain_agg(spark):
    l = load_table(spark, "lineitem", SF)
    plain = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"),
    )
    salted = salted_agg(
        l,
        keys=["l_returnflag"],
        partial_aggs={
            "n": F.count(F.lit(1)),
            "qty": F.sum(F.col("l_quantity").cast(DEC)),
        },
        final_aggs={
            "n": F.sum("n"),
            "qty": F.sum("qty").cast("double"),
        },
        n_salts=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_is_deterministic_and_spread(spark):
    l = load_table(spark, "lineitem", SF).limit(2000)
    a = with_salt(l, 16).select("_salt").collect()
    b = with_salt(l, 16).select("_salt").collect()
    assert [r["_salt"] for r in a] == [r["_salt"] for r in b]
    assert len({r["_salt"] for r in a}) == 16  # all buckets hit


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Bucketing both sides on the join key co-locates matching rows:
    the join plans with NO Exchange — the 100 TB fact-fact join layout."""
    # warehouse dir is a static conf (defaults to ./spark-warehouse,
    # gitignored); DROP TABLE in a fresh session doesn't remove orphan
    # locations from crashed runs — clear them explicitly
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    o = load_table(spark, "orders", SF)
    l = load_table(spark, "lineitem", SF)
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # force SMJ (tiny sf0.001 sides would broadcast): at fact-fact scale
    # SMJ is what the planner picks anyway, and bucketing removes its
    # exchanges
    joined = (
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # join itself must not shuffle either side (only the final groupBy may)
    join_part = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part, join_part
    # and it returns the same result as the unbucketed join
    want = (
        l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_drops_replayed_events(spark, tmp_path):
    """Replay the same events file twice (at-least-once delivery);
    dropDuplicatesWithinWatermark must restore exactly-once."""
    src_dir = tmp_path / "dup_events"
    src_dir.mkdir()
    norm = load_table(spark, "events", SF).limit(500)
    norm.write.parquet(str(src_dir / "a.parquet"))
    norm.write.parquet(str(src_dir / "b.parquet"))

    stream = spark.readStream.schema(norm.schema).parquet(str(src_dir) + "/*")
    q = (
        dedup_stream(stream, keys=["event_id"])
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    assert got["n"] == 500 and got["d"] == 500


def test_aqe_splits_hot_lsh_band_bucket(spark):
    """The skewed-key hazard, measured not argued: a hot LSH (band,
    bucket) — many docs sharing one text — must trigger AQE skew-join
    splitting on the candidate self-join. Thresholds are scaled to smoke
    size (the 100 TB defaults are 256 MB; the hot partition here is tens
    of KB) — what's pinned is that the MECHANISM engages on this join
    shape: final plan shows SortMergeJoin(skew=true) + AQEShuffleRead
    skewed, as measured on the x10 --skew corpus in SCALE.md."""
    from cql_xmlpipe_spark.operators.dedup import (
        _band_keys,
        _minhash_sigs,
        shingle_hash_sets,
    )

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "128")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "5k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hot = " ".join(f"tok{i % 97}" for i in range(60))
        rows = [
            (i, hot if i < 4000 else " ".join(f"w{i}_{j}" for j in range(60)))
            for i in range(8000)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sets = shingle_hash_sets(docs, "text", "doc_id")
        buckets = _minhash_sigs(sets, "doc_id").select(
            F.col("doc_id"), F.posexplode(_band_keys()).alias("band", "bucket")
        )
        cands = (
            buckets.select(F.col("doc_id").alias("id_a"), "band", "bucket")
            .join(
                buckets.select(F.col("doc_id").alias("id_b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
        )
        agg = cands.groupBy().count()
        n = agg.collect()[0][0]
        assert n >= 4000 * 3999 // 2  # the hot clique is all-candidates
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot band bucket"
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ewma_correct_under_hot_user_skew(spark, tmp_path):
    """One user holding a 10⁶-event history — the skew shape
    events_user_ewma's segmented fold exists for — must still bit-match
    the pure-Python model of the same association, and both fold levels
    stay O(√n): ⌈√n⌉-event segments, ⌈n/⌈√n⌉⌉ segment maps (~1001 each
    here), never an O(n) array at any level."""
    import calendar
    import os
    from datetime import datetime

    from cql_xmlpipe_spark.plans.extensions import _ewma_seg_size, events_user_ewma

    sf = str(tmp_path)
    n = 10**6 + 7
    t0_us = calendar.timegm(datetime(2024, 1, 1).timetuple()) * 1_000_000
    # generate distributed (10⁶ driver-side tuples would dominate the test)
    spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(t0_us) + F.col("id") * 1_000_000).alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        F.lit("a").alias("event_type"),
        (((F.col("id") * 61) % 997) / F.lit(13.0)).alias("value"),
        F.lit("{}").alias("props"),
    ).coalesce(4).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = events_user_ewma(spark, sf).collect()[0]
    ss = _ewma_seg_size(n)
    assert ss * ss >= n and (ss - 1) * (ss - 1) < n  # both levels O(√n)
    vals = [((i * 61) % 997) / 13.0 for i in range(n)]
    P, Q = 1.0, 0.0
    for s in range(0, n, ss):
        p, q = 1.0, 0.0
        for v in vals[s : s + ss]:
            q = q * 0.9 + v * 0.1
            p = p * 0.9
        P, Q = P * p, Q * p + q
    assert got["n_events"] == n and got["ewma_value"] == Q


def test_jitter_embedding_makes_true_near_dups(spark):
    """The --jitter corpus mode's embedding perturbation (the corpus that
    measures sign-LSH recall on genuinely different signatures, SCALE.md)
    must be deterministic and must land replicas in the near-dup cosine
    band: above the 0.95 pipeline threshold but with real sign flips."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from make_scale_data import _jitter_embedding

    from cql_xmlpipe_spark.functions.vectors import cosine_safe

    base = load_table(spark, "embeddings", SF).limit(50)
    j1 = _jitter_embedding(base, 1)
    j1b = _jitter_embedding(base, 1)
    j2 = _jitter_embedding(base, 2)

    # deterministic: same copy index -> identical vectors
    a = {r["vec_id"]: r["embedding"] for r in j1.collect()}
    b = {r["vec_id"]: r["embedding"] for r in j1b.collect()}
    assert a == b
    # different copy index -> different vectors
    c = {r["vec_id"]: r["embedding"] for r in j2.collect()}
    assert all(a[k] != c[k] for k in a)

    # cosine bands: orig<->copy ~0.985, copy<->copy ~0.971, all >= 0.95
    def cos_pairs(x, y):
        joined = (
            x.select("vec_id", F.col("embedding").alias("ea"))
            .join(y.select("vec_id", F.col("embedding").alias("eb")), "vec_id")
            .select(cosine_safe(F.col("ea"), F.col("eb")).alias("cos"))
        )
        return [r["cos"] for r in joined.collect()]

    oc = cos_pairs(base, j1)
    cc = cos_pairs(j1, j2)
    assert all(0.95 <= v < 0.9999 for v in oc), (min(oc), max(oc))
    assert all(0.93 <= v < 0.999 for v in cc), (min(cc), max(cc))
    assert sum(v >= 0.95 for v in cc) / len(cc) > 0.95


def test_embedding_roster_and_probe_plan_shapes(spark):
    """Round-10 plan pins: the embedding roster contract and the
    incremental probe must never plan a cartesian/nested-loop join (the
    candidate joins are equi-joins on (band, bkey) ints), and the roster
    path must contain ZERO Sort nodes — member ordering is the per-row
    sort_array expression, not a corpus sort (the same no-corpus-sort
    property the r9 text roster established)."""
    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    groups = DD.embedding_near_dup_groups(emb, threshold=0.95)
    p = groups._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Sort " not in p
    DD.unpersist_intermediates(groups)

    corpus = emb.filter("vec_id % 5 != 0")
    inc = emb.filter("vec_id % 5 = 0")
    probe = DD.embedding_incremental_probe_pairs(corpus, inc)
    p2 = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2
    DD.unpersist_intermediates(probe)
