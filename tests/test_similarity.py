"""ANN recall tests: LSH and IVF approximate top-k vs exact brute force
on the driver's embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cql_xmlpipe_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
    pq_topk,
)
from cql_xmlpipe_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus_and_queries(spark):
    e = load_table(spark, "embeddings", SF).persist()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return e, q


def _pairs(df):
    return {(r["q_id"], r["vec_id"]) for r in df.collect()}


def test_brute_force_exact_k(corpus_and_queries):
    e, q = corpus_and_queries
    got = brute_force_topk(e, q, k=10)
    per_q = got.groupBy("q_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] == 10 for r in per_q) and len(per_q) == 5


def test_brute_force_zero_vector_never_ranks(spark):
    """A zero corpus vector has no direction: the exact re-rank must
    skip it (cosine_safe's NULL), not raise ANSI DIVIDE_BY_ZERO — even
    with k large enough to rank every other vector."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "q_id long, q_emb array<float>")
    got = sorted(
        (r["rank"], r["vec_id"]) for r in brute_force_topk(corpus, q, k=3).collect()
    )
    assert got == [(1, 1), (2, 3)]


@pytest.fixture(scope="module")
def clustered(spark):
    """ANN recall is only meaningful when neighbors are actually close:
    the driver's embeddings are ~uniform random (true top-10 cosines are
    ~0.4 — no locality structure for ANY bucketing method to exploit), so
    recall tests use planted clusters: 20 centers × 12 members at small
    noise (intra-cluster cosine ≫ inter-cluster)."""
    import math
    import random

    rng = random.Random(3)
    dim = 32
    rows = []
    vid = 0
    for c in range(20):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(12):
            v = [x + rng.gauss(0, 0.15) for x in center]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [float(x / n) for x in v]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()
    q = e.filter(F.col("vec_id") % 12 == 0).filter(F.col("vec_id") < 60).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return e, q


@pytest.mark.parametrize("impl,kwargs,floor", [
    ("lsh", {}, 0.6),
    ("ivf", {"n_cells": 10, "n_probe": 3}, 0.8),
    ("pq", {"m": 4, "ks": 8, "shortlist": 40}, 0.8),
    ("ivfpq", {"n_cells": 10, "n_probe": 3, "m": 4, "ks": 8, "shortlist": 40}, 0.8),
])
def test_ann_recall_on_clustered_data(impl, kwargs, floor, clustered):
    e, q = clustered
    truth = _pairs(brute_force_topk(e, q, k=10))
    fn = {"lsh": lsh_topk, "ivf": ivf_topk, "pq": pq_topk, "ivfpq": ivfpq_topk}[impl]
    approx = _pairs(fn(e, q, k=10, **kwargs))
    recall = len(truth & approx) / len(truth)
    assert recall >= floor, f"{impl} recall {recall:.2f} < {floor}"
    # approximate results never self-match
    assert all(qid != vid for qid, vid in approx)


def test_ann_runs_on_driver_embeddings(corpus_and_queries):
    """On the real (unclustered) table the contract is shape + validity,
    not recall: rank ≤ k per query, no self-matches, cos within [-1, 1]."""
    e, q = corpus_and_queries
    for df in (
        lsh_topk(e, q, k=10),
        ivf_topk(e, q, k=10, n_cells=8, n_probe=2),
        pq_topk(e, q, k=10, m=4, ks=8, shortlist=30),
    ):
        rows = df.collect()
        assert rows, "ANN returned nothing"
        for r in rows:
            assert r["q_id"] != r["vec_id"] and 1 <= r["rank"] <= 10
            assert -1.000001 <= r["cos"] <= 1.000001


def test_ivf_null_and_ragged_embeddings(spark):
    """IVF's Arrow assignment path must mirror the Column-expression
    paths' NULL semantics (a null vector is never trained on, never a
    candidate, never a result — it gets a NULL cell and drops at the
    equi-join) and must name raggedness instead of an opaque numpy
    stack error. Same contract as banded_sign_keys (test_dedup)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((40, None))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, rows[0][1]), (1, None)], "q_id long, q_emb array<float>"
    )
    got = ivf_topk(e, q, k=5, n_cells=4, n_probe=2).collect()
    assert got, "IVF returned nothing for the valid query"
    assert all(r["q_id"] == 0 for r in got)  # null query yields no rows
    assert all(r["vec_id"] != 40 for r in got)  # null corpus vec never a result

    ragged = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [1.0, -2.0, 3.0]), (3, [1.0, -2.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    rq = spark.createDataFrame(
        [(0, [1.0, -2.0, 3.0])], "q_id long, q_emb array<float>"
    )
    with pytest.raises(Exception) as ei:
        ivf_topk(ragged, rq, k=2, n_cells=2, n_probe=1).collect()
    assert "ragged" in str(ei.value)


@pytest.mark.parametrize("build", ["ivf_build", "pq_build"])
def test_unrelated_fit_failure_reraises_without_a_scan(spark, monkeypatch, build):
    """The ragged-dimension diagnostic runs only when the fit died of a
    JVM IllegalArgumentException (MLlib's "Dimensions mismatch"): any
    other fit failure — here one whose message is full of the words a
    keyword sniff would match — re-raises unchanged and starts no Spark
    job after the fit."""
    import random

    from pyspark.ml.clustering import KMeans

    from cql_xmlpipe_spark.operators import similarity as S

    rng = random.Random(3)
    e = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None) or [-1])

    at_fit = []
    boom = RuntimeError("index size bounds")

    def failing_fit(self, dataset, params=None):
        at_fit.append(last_job())
        raise boom

    monkeypatch.setattr(KMeans, "fit", failing_fit)
    with pytest.raises(RuntimeError) as ei:
        getattr(S, build)(e)
    assert ei.value is boom
    assert at_fit and last_job() == max(at_fit)


def test_pq_fullprobe_equals_brute_force(clustered):
    """shortlist=None must reproduce brute force EXACTLY (ranks and
    cosines, not just the id sets) — the machinery-identity the
    similarity_pq_fullprobe_topk gate pins on the driver corpus."""
    e, q = clustered
    exact = sorted(map(tuple, brute_force_topk(e, q, k=10).collect()))
    full = sorted(map(tuple, pq_topk(e, q, k=10, m=4, ks=8, shortlist=None).collect()))
    assert full == exact


def test_pq_null_and_ragged_embeddings(spark):
    """Same NULL/ragged contract as ivf_topk: null vectors are never
    candidates, null queries yield no rows, raggedness is named."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((40, None))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, rows[0][1]), (1, None)], "q_id long, q_emb array<float>"
    )
    got = pq_topk(e, q, k=5, m=2, ks=4, shortlist=10).collect()
    assert got, "PQ returned nothing for the valid query"
    assert all(r["q_id"] == 0 for r in got)
    assert all(r["vec_id"] != 40 for r in got)

    ragged = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0, 0.5]), (2, [1.0, -2.0, 3.0, 0.5]), (3, [1.0, -2.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    rq = spark.createDataFrame(
        [(0, [1.0, -2.0, 3.0, 0.5])], "q_id long, q_emb array<float>"
    )
    with pytest.raises(Exception) as ei:
        pq_topk(ragged, rq, k=2, m=2, ks=2, shortlist=None).collect()
    assert "ragged" in str(ei.value)


def test_ivfpq_fullprobe_equals_brute_force(clustered):
    """n_probe=n_cells + shortlist=None must reproduce brute force
    EXACTLY (ranks and cosines) — the machinery identity the
    similarity_ivfpq_fullprobe_topk gate pins on the driver corpus."""
    e, q = clustered
    exact = sorted(map(tuple, brute_force_topk(e, q, k=10).collect()))
    full = sorted(
        map(
            tuple,
            ivfpq_topk(
                e, q, k=10, n_cells=10, n_probe=10, m=4, ks=8, shortlist=None
            ).collect(),
        )
    )
    assert full == exact


def test_ivfpq_flat_equals_ivf_and_gating_prunes(clustered):
    """Two structural identities of the composite: (a) shortlist=None
    IS IVF flat search — ADC prunes nothing, so output ≡ ivf_topk at
    the same (n_cells, n_probe); (b) the cell gate actually restricts
    the candidate universe — every ivfpq result id is in the query's
    probed cells (checked against the built index's assignments)."""
    from cql_xmlpipe_spark.operators.similarity import ivfpq_build, ivfpq_query

    e, q = clustered
    flat = sorted(
        map(
            tuple,
            ivfpq_topk(
                e, q, k=10, n_cells=10, n_probe=3, m=4, ks=8, shortlist=None
            ).collect(),
        )
    )
    ivf = sorted(
        map(tuple, ivf_topk(e, q, k=10, n_cells=10, n_probe=3).collect())
    )
    assert flat == ivf

    index, centers, books = ivfpq_build(e, n_cells=10, m=4, ks=8)
    got = ivfpq_query(
        e, q, index, centers, books, k=10, n_probe=2, shortlist=40
    )
    cell_of = {r["vec_id"]: r["cell"] for r in index.select("vec_id", "cell").collect()}
    import numpy as np

    C = np.asarray(centers)
    half = (C * C).sum(axis=1) / 2.0
    q_rows = {r["q_id"]: np.asarray(r["q_emb"], dtype=np.float64) for r in q.collect()}
    probed = {
        qid: set(np.argsort(-(v @ C.T - half))[:2].tolist())
        for qid, v in q_rows.items()
    }
    rows = got.collect()
    assert rows
    for r in rows:
        assert cell_of[r["vec_id"]] in probed[r["q_id"]], (
            f"result {r['vec_id']} (cell {cell_of[r['vec_id']]}) outside "
            f"query {r['q_id']}'s probed cells {probed[r['q_id']]}"
        )


def test_ivfpq_null_ragged_and_blocked(spark, clustered):
    """NULL/ragged contract as the siblings (null vectors never encode,
    null queries yield no rows, raggedness is named) plus the
    query-block identity: max_query_mb=0 forces one-row blocks and the
    blocked union must equal the single-closure output exactly."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((40, None))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, rows[0][1]), (1, None)], "q_id long, q_emb array<float>"
    )
    got = ivfpq_topk(e, q, k=5, n_cells=4, n_probe=2, m=2, ks=4, shortlist=10).collect()
    assert got, "IVF-PQ returned nothing for the valid query"
    assert all(r["q_id"] == 0 for r in got)
    assert all(r["vec_id"] != 40 for r in got)

    ragged = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0, 0.5]), (2, [1.0, -2.0, 3.0, 0.5]), (3, [1.0, -2.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    rq = spark.createDataFrame(
        [(0, [1.0, -2.0, 3.0, 0.5])], "q_id long, q_emb array<float>"
    )
    with pytest.raises(Exception) as ei:
        ivfpq_topk(ragged, rq, k=2, n_cells=2, n_probe=1, m=2, ks=2).collect()
    assert "ragged" in str(ei.value)

    ec, qc = clustered
    base = sorted(
        map(
            tuple,
            ivfpq_topk(ec, qc, k=10, n_cells=10, n_probe=3, m=4, ks=8,
                       shortlist=40).collect(),
        )
    )
    blocked = sorted(
        map(
            tuple,
            ivfpq_topk(ec, qc, k=10, n_cells=10, n_probe=3, m=4, ks=8,
                       shortlist=40, max_query_mb=0).collect(),
        )
    )
    assert blocked == base and len(base) > 0


def test_hard_negatives_never_share_label(spark):
    from cql_xmlpipe_spark.plans.extensions import similarity_hard_negatives

    rows = similarity_hard_negatives(spark, SF).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, "embeddings", SF).collect()
    }
    for r in rows:
        assert labels[r["q_id"]] != labels[r["vec_id"]]
        assert 1 <= r["rank"] <= 10 and r["q_id"] != r["vec_id"]


def test_silhouette_contracts(spark):
    """Value sanity + edge contracts for the simplified silhouette:
    (1) on a two-label corpus with well-separated planted clusters,
    members score near +1 and a planted vector sitting AT the other
    label's centroid scores negative; (2) s is always in [-1, 1];
    (3) a single-label corpus yields NULL silhouettes (no 'other'
    centroid), never an arbitrary 0."""
    from cql_xmlpipe_spark.plans.extensions import embedding_silhouette_by_label

    rows = embedding_silhouette_by_label(spark, SF).collect()
    assert rows
    for r in rows:
        if r["silhouette"] is not None:
            assert -1.0000001 <= r["silhouette"] <= 1.0000001

    import random

    rng = random.Random(11)
    dim = 8
    centers = {0: [5.0] * dim, 1: [-5.0] * dim}
    data = []
    vid = 0
    for lab, c in centers.items():
        for _ in range(10):
            data.append((vid, lab, [x + rng.gauss(0, 0.1) for x in c]))
            vid += 1
    # a mislabeled vector: labeled 0 but sitting at label 1's centroid
    data.append((vid, 0, list(centers[1])))
    e = spark.createDataFrame(data, "vec_id long, label int, embedding array<float>")

    import cql_xmlpipe_spark.plans.extensions as X

    orig = X.load_table
    X.load_table = lambda _s, _t, _d: e
    try:
        got = {r["vec_id"]: r for r in embedding_silhouette_by_label(spark, SF).collect()}
    finally:
        X.load_table = orig
    clean = [got[v]["silhouette"] for v in range(vid) if v != 20]
    assert all(s > 0.9 for s in clean), clean[:3]
    assert got[vid]["silhouette"] < -0.5  # the planted mislabel

    single = spark.createDataFrame(
        [(0, 7, [1.0, 2.0]), (1, 7, [2.0, 1.0])],
        "vec_id long, label int, embedding array<float>",
    )
    X.load_table = lambda _s, _t, _d: single
    try:
        rows1 = embedding_silhouette_by_label(spark, SF).collect()
    finally:
        X.load_table = orig
    assert len(rows1) == 2
    assert all(r["silhouette"] is None and r["b_inter"] is None for r in rows1)


def test_knn_label_consistency_contract(spark):
    from cql_xmlpipe_spark.operators.dedup import stratum_filter
    from cql_xmlpipe_spark.plans.extensions import (
        _KNN_AUDIT_FRAC,
        embedding_knn_label_consistency,
    )

    rows = embedding_knn_label_consistency(spark, SF).collect()
    n_stratum = (
        load_table(spark, "embeddings", SF)
        .filter(stratum_filter("vec_id", _KNN_AUDIT_FRAC))
        .count()
    )
    assert len(rows) == n_stratum > 0
    for r in rows:
        assert 0 <= r["n_same"] <= 10
        assert r["consistency"] == r["n_same"] / 10.0


def test_staged_ann_equals_per_call(clustered, tmp_path, spark):
    """r13 verdict task 5: build-once/query-many ≡ per-call rebuild for
    IVF and PQ (the one-call forms are literally query(*build(...)), so
    this pins the decomposition stays lossless), the SAME built index
    serves a second query set, and the parquet+params persistence
    round-trips into identical answers in a consumer that never saw the
    training run."""
    from cql_xmlpipe_spark.operators.similarity import (
        ann_index_read,
        ann_index_write,
        ivf_build,
        ivf_query,
        ivfpq_build,
        ivfpq_query,
        pq_build,
        pq_query,
    )

    e, q = clustered
    q2 = e.filter(F.col("vec_id") % 12 == 5).filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )

    assign, centers = ivf_build(e, n_cells=10)
    for qs in (q, q2):
        a = sorted(map(tuple, ivf_topk(e, qs, k=10, n_cells=10, n_probe=3).collect()))
        b = sorted(map(tuple, ivf_query(e, qs, assign, centers, k=10, n_probe=3).collect()))
        assert a == b and len(a) > 0

    codes, books = pq_build(e, m=4, ks=8)
    for qs in (q, q2):
        a = sorted(map(tuple, pq_topk(e, qs, k=10, m=4, ks=8, shortlist=40).collect()))
        b = sorted(map(tuple, pq_query(e, qs, codes, books, k=10, shortlist=40).collect()))
        assert a == b and len(a) > 0

    # cross-process persistence: write, read back, query from the artifact
    ivf_dir = str(tmp_path / "ivf_index")
    ann_index_write(assign, {"kind": "ivf", "n_probe": 3, "centers": centers}, ivf_dir)
    rows, params = ann_index_read(spark, ivf_dir)
    assert params["kind"] == "ivf"
    got = sorted(
        map(tuple, ivf_query(e, q, rows, params["centers"], k=10,
                             n_probe=params["n_probe"]).collect())
    )
    assert got == sorted(map(tuple, ivf_query(e, q, assign, centers, k=10, n_probe=3).collect()))

    pq_dir = str(tmp_path / "pq_index")
    ann_index_write(codes, {"kind": "pq", "shortlist": 40, "books": books}, pq_dir)
    rows, params = ann_index_read(spark, pq_dir)
    assert params["kind"] == "pq"
    got = sorted(
        map(tuple, pq_query(e, q, rows, params["books"], k=10,
                            shortlist=params["shortlist"]).collect())
    )
    assert got == sorted(map(tuple, pq_query(e, q, codes, books, k=10, shortlist=40).collect()))

    # the composite: staged ≡ per-call, and the three-artifact
    # (index rows + centers + books) persistence round-trips
    index, centers2, books2 = ivfpq_build(e, n_cells=10, m=4, ks=8)
    for qs in (q, q2):
        a = sorted(map(tuple, ivfpq_topk(
            e, qs, k=10, n_cells=10, n_probe=3, m=4, ks=8, shortlist=40
        ).collect()))
        b = sorted(map(tuple, ivfpq_query(
            e, qs, index, centers2, books2, k=10, n_probe=3, shortlist=40
        ).collect()))
        assert a == b and len(a) > 0

    ivfpq_dir = str(tmp_path / "ivfpq_index")
    ann_index_write(
        index,
        {"kind": "ivfpq", "n_probe": 3, "shortlist": 40,
         "centers": centers2, "books": books2},
        ivfpq_dir,
    )
    rows, params = ann_index_read(spark, ivfpq_dir)
    assert params["kind"] == "ivfpq"
    got = sorted(map(tuple, ivfpq_query(
        e, q, rows, params["centers"], params["books"], k=10,
        n_probe=params["n_probe"], shortlist=params["shortlist"],
    ).collect()))
    assert got == sorted(map(tuple, ivfpq_query(
        e, q, index, centers2, books2, k=10, n_probe=3, shortlist=40
    ).collect()))
