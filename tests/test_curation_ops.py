"""Semantic pins for the round-12 session-3 curation operators
(temperature mixture, epoch plan, domain cap, radius search, char
entropy) over crafted corpora — the oracle harness covers the bulk
distribution; these pin the boundary math the synthetic corpus never
exercises."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from cql_xmlpipe_spark.operators.similarity import radius_search
from cql_xmlpipe_spark.plans.extensions import (
    _MIX_TEMPERATURE,
    corpus_domain_cap,
    corpus_epoch_plan,
    corpus_mix_temperature,
    text_char_entropy,
)


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )


def test_mix_temperature_upsamples_small_sources(spark, tmp_path):
    sf = str(tmp_path)
    # src A: 9 docs x 10 tokens = 90; src B: 1 doc x 10 tokens = 10
    rows = [(i, " ".join(["w"] * 10), "en", "A", 20) for i in range(9)]
    rows.append((9, " ".join(["w"] * 10), "en", "B", 20))
    _write_documents(spark, sf, rows)
    got = {r["source"]: r for r in corpus_mix_temperature(spark, sf).collect()}
    assert got["A"]["p_nat"] == 0.9 and got["B"]["p_nat"] == 0.1
    # independently reproduce the quantized-pow model in pure Python
    # (tolerance covers a possible 1-ulp CPython-vs-JVM pow difference,
    # which the x1e9 quantizer would turn into a +-1 integer step; the
    # DuckDB-vs-Spark oracle gate is the exact cross-engine check)
    pw = {s: math.floor(p**_MIX_TEMPERATURE * 1e9 + 0.5) for s, p in (("A", 0.9), ("B", 0.1))}
    z = sum(pw.values())
    for s in ("A", "B"):
        assert abs(got[s]["p_temp"] - pw[s] / z) < 3e-9
        assert abs(got[s]["sample_weight"] - (pw[s] / z) / got[s]["p_nat"]) < 3e-8
    # tempering moves the mix toward uniform without crossing it
    assert 0.1 < got["B"]["p_temp"] < 0.5 < got["A"]["p_temp"] < 0.9
    assert got["B"]["sample_weight"] > 1.0 > got["A"]["sample_weight"]


def test_epoch_plan_exact_splits(spark, tmp_path):
    sf = str(tmp_path)
    # tokens: A=10, B=40; budget = 2 x 50 = 100; per-source target = 50
    rows = [
        (0, " ".join(["w"] * 10), "en", "A", 20),
        (1, " ".join(["w"] * 40), "en", "B", 80),
    ]
    _write_documents(spark, sf, rows)
    got = {r["source"]: r for r in corpus_epoch_plan(spark, sf).collect()}
    assert got["A"]["target_tokens"] == 50.0 and got["B"]["target_tokens"] == 50.0
    assert got["A"]["epochs"] == 5.0
    assert (got["A"]["full_epochs"], got["A"]["partial_frac"]) == (5, 0.0)
    assert got["B"]["epochs"] == 1.25
    assert (got["B"]["full_epochs"], got["B"]["partial_frac"]) == (1, 0.25)


def test_domain_cap_caps_only_oversized_sources(spark, tmp_path):
    sf = str(tmp_path)
    # N=10, cap = ceil(0.3*10) = 3; A has 6 docs (capped), B 3, C 1
    rows = [(i, f"doc {i}", "en", "A", 5) for i in range(6)]
    rows += [(6 + i, f"doc {6 + i}", "en", "B", 5) for i in range(3)]
    rows.append((9, "doc 9", "en", "C", 5))
    _write_documents(spark, sf, rows)
    out = corpus_domain_cap(spark, sf).collect()
    kept = {s: sorted(r["doc_id"] for r in out if r["source"] == s and r["kept"])
            for s in ("A", "B", "C")}
    assert len(kept["A"]) == 3 and len(kept["B"]) == 3 and len(kept["C"]) == 1
    # the kept subset is the md5-rank prefix — deterministic across runs
    again = {s: sorted(r["doc_id"] for r in corpus_domain_cap(spark, sf).collect()
                       if r["source"] == s and r["kept"]) for s in ("A", "B", "C")}
    assert kept == again
    expected_a = sorted(
        range(6), key=lambda i: (__import__("hashlib").md5(str(i).encode()).hexdigest(), i)
    )[:3]
    assert kept["A"] == sorted(expected_a)


def test_radius_search_threshold_and_null_norm(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),   # cos 1.0 vs q
            (2, [0.0, 1.0]),   # cos 0.0
            (3, [1.0, 1.0]),   # cos ~0.7071
            (4, [-1.0, 0.0]),  # cos -1.0
            (5, [0.0, 0.0]),   # zero norm -> NULL cos -> excluded
        ],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "q_id long, q_emb array<float>")
    got = {r["vec_id"]: r["cos"] for r in radius_search(corpus, q, threshold=0.5).collect()}
    assert set(got) == {1, 3}
    assert got[1] == 1.0
    assert abs(got[3] - math.sqrt(0.5)) < 1e-12
    # self-exclusion: a corpus row sharing the query id never scores
    q2 = spark.createDataFrame([(1, [1.0, 0.0])], "q_id long, q_emb array<float>")
    assert {r["vec_id"] for r in radius_search(corpus, q2, threshold=0.5).collect()} == {3}


def _radius_corpus(spark, n=300, dim=24, seed=11):
    """Random unit vectors + a jittered ~0.97-cosine twin for each of the
    first 40 (NON-sign-invariant jitter — exercises the real banding miss
    budget, unlike the ×2 gate device) + one zero-norm + one NULL."""
    import random

    rng = random.Random(seed)

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v))
        return [x / nrm for x in v]

    rows = []
    for i in range(n):
        v = unit()
        rows.append((i, [float(x) for x in v]))
        if i < 40:
            w = [x + 0.12 * rng.gauss(0, 1) / math.sqrt(dim) for x in v]
            nrm = math.sqrt(sum(x * x for x in w))
            rows.append((10_000 + i, [float(x / nrm) for x in w]))
    rows.append((77_777, [0.0] * dim))
    rows.append((88_888, None))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_radius_matmul_equals_broadcast(spark):
    """The BLAS path is EXACT: same qualifying set as the codegen fold
    (no pair near the 0.9 boundary within BLAS-vs-fold disagreement),
    cos agreeing to 1e-12, zero-norm and NULL vectors excluded on both."""
    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 60 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    ex = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.9, candidates="broadcast").collect()}
    mm = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.9, candidates="matmul").collect()}
    assert set(ex) == set(mm) and len(ex) >= 40
    assert max(abs(ex[k] - mm[k]) for k in ex) < 1e-12
    assert all(77_777 not in k and 88_888 not in k for k in mm)


def test_radius_banded_subset_and_recall_law(spark):
    """Banded output ⊆ exact with BIT-IDENTICAL cos (same verify
    expression), and live recall on jittered ~0.97 twins meets the
    auto_band_config recall law at the operator's own auto geometry —
    the non-invariant-neighbor evidence the ×2 planted gate can't give."""
    from cql_xmlpipe_spark.operators.similarity import auto_band_config

    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 40").selectExpr("vec_id AS q_id", "embedding AS q_emb")
    ex = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.95, candidates="broadcast").collect()}
    bd = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.95, candidates="banded").collect()}
    assert set(bd) <= set(ex)
    assert all(bd[k] == ex[k] for k in bd)  # identical verify expression
    # recall_target=0.99 at cosine EXACTLY 0.95; the planted twins sit at
    # ~0.97 where per-pair recall is higher still — demand ≥ 0.95 overall
    # to absorb the Bernoulli tail at 40 pairs
    assert len(ex) >= 35
    assert len(bd) / len(ex) >= 0.95
    nb, bb = auto_band_config(corpus.count(), 0.95)
    assert nb * bb <= 4096  # the geometry radius_search auto-derived


def test_radius_auto_strategy_selection(spark, monkeypatch):
    """auto is EXACT-ONLY (r13 ADVICE: a dispatcher must never silently
    swap a complete result for a ~99%-complete one as data grows): tiny
    bill → broadcast (plan shows the broadcast nested loop); big bill →
    matmul (single Arrow scan, no join) at EVERY threshold — banded
    requires explicit opt-in. Forced via the module budget constant so a
    300-row corpus exercises both branches."""
    from cql_xmlpipe_spark.operators import similarity as S

    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 40").selectExpr("vec_id AS q_id", "embedding AS q_emb")
    plan = radius_search(corpus, q, 0.95)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    monkeypatch.setattr(S, "RADIUS_BRUTE_BILL_MAX", 10)
    for t in (0.95, 0.2):  # high threshold no longer flips to banded
        big = S.radius_search(corpus, q, t)
        bp = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in bp
        assert "MapInPandas" in bp and "Join" not in bp  # single-scan matmul
    assert S.radius_search(corpus, q, 0.2).limit(1).count() == 1
    # and the matmul set equals the exact broadcast set on this corpus
    ex = {(r["q_id"], r["vec_id"])
          for r in radius_search(corpus, q, 0.95, candidates="broadcast").collect()}
    au = {(r["q_id"], r["vec_id"]) for r in S.radius_search(corpus, q, 0.95).collect()}
    assert au == ex


def test_topk_matmul_equals_brute(spark):
    """The shuffle-pruned exact top-k reproduces brute_force_topk
    row-for-row — ranks, ids AND cos bits (the re-rank uses the same
    Column fold) — on a corpus with jittered near-dups, a zero-norm and
    a NULL vector; also at k larger than some partitions' row counts."""
    from cql_xmlpipe_spark.operators.similarity import brute_force_topk, topk_matmul

    # the zero-norm vector 77777 stays in: brute_force_topk and the
    # matmul re-rank both score it with cosine_safe, whose NULL never ranks
    corpus = _radius_corpus(spark).repartition(8)
    q = corpus.filter("vec_id < 30 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    for k in (5, 40):
        a = sorted(map(tuple, brute_force_topk(corpus, q, k=k).collect()))
        b = sorted(map(tuple, topk_matmul(corpus, q, k=k).collect()))
        assert a == b and len(a) >= 30 * min(k, 30)


def test_topk_matmul_zero_norm_safe(spark):
    """Zero-norm and NULL corpus vectors are excluded, not a crash —
    the same never-ranks contract as brute_force_topk's cosine_safe
    re-rank."""
    from cql_xmlpipe_spark.operators.similarity import topk_matmul

    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 10").selectExpr("vec_id AS q_id", "embedding AS q_emb")
    got = topk_matmul(corpus, q, k=5).collect()
    assert len(got) == 50
    assert all(r["vec_id"] not in (77_777, 88_888) for r in got)


def test_topk_matmul_tie_break_at_boundary(spark):
    """Exact ties straddling the k boundary: four corpus vectors at
    IDENTICAL cosine to the query — the (cos desc, id asc) tie-break
    must pick the lowest ids, same as brute, even though the BLAS
    shortlist saw equal scores."""
    from cql_xmlpipe_spark.operators.similarity import brute_force_topk, topk_matmul

    rows = [(i, [1.0, 0.0, 0.0]) for i in range(1, 5)]  # all cos 1.0 vs q
    rows += [(10 + i, [0.0, 1.0, 0.0]) for i in range(3)]  # cos 0.0
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
    q = spark.createDataFrame([(0, [2.0, 0.0, 0.0])], "q_id long, q_emb array<float>")
    a = sorted(map(tuple, brute_force_topk(corpus, q, k=2).collect()))
    b = sorted(map(tuple, topk_matmul(corpus, q, k=2).collect()))
    assert a == b
    assert [r[1] for r in sorted(b, key=lambda r: r[2])] == [1, 2]


def test_topk_matmul_ties_single_partition(spark):
    """The r13 ADVICE repro: ALL tied rows land in ONE partition (and so
    one BLAS chunk), ids deliberately out of order — a chunk-level hard
    cut to k rows would keep an arbitrary k of the ties and break the
    (cos desc, id asc) contract; the band-keep must surface every tie to
    the exact re-rank, which picks the lowest ids like brute."""
    from cql_xmlpipe_spark.operators.similarity import brute_force_topk, topk_matmul

    rows = [(i, [1.0, 0.0, 0.0]) for i in (3, 4, 1, 2)]  # 4 exact ties
    rows += [(10 + i, [0.0, 1.0, 0.0]) for i in range(3)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(1)
    q = spark.createDataFrame([(0, [2.0, 0.0, 0.0])], "q_id long, q_emb array<float>")
    a = sorted(map(tuple, brute_force_topk(corpus, q, k=2).collect()))
    b = sorted(map(tuple, topk_matmul(corpus, q, k=2).collect()))
    assert a == b
    assert sorted(r[1] for r in b) == [1, 2]


def test_pq_topk_blocked_luts_identical(spark):
    """pq_topk's numpy ADC shortlist under one-query LUT blocks
    (max_query_mb=0) reproduces the single-closure output exactly — the
    block union feeds the same exact fold re-cut."""
    from cql_xmlpipe_spark.operators.similarity import pq_topk

    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 12 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    one = sorted(map(tuple, pq_topk(corpus, q, k=5, m=4, ks=8, shortlist=20).collect()))
    blocked = sorted(
        map(
            tuple,
            pq_topk(
                corpus, q, k=5, m=4, ks=8, shortlist=20, max_query_mb=0
            ).collect(),
        )
    )
    assert one == blocked and len(one) == 12 * 5


def test_topk_matmul_query_blocks_exact(spark):
    """|Q| past max_query_mb splits into query BLOCKS (one shortlist
    scan each, candidates unioned) instead of refusing — output
    identical to the single-closure run and to brute (r13 gap #2)."""
    from cql_xmlpipe_spark.operators.similarity import brute_force_topk, topk_matmul

    corpus = _radius_corpus(spark).filter("vec_id <> 77777")
    q = corpus.filter("vec_id < 40 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    # cap of 0 MB → one-row blocks: 40 scans on 40 queries, worst case
    blocked = sorted(map(tuple, topk_matmul(corpus, q, k=5, max_query_mb=0).collect()))
    assert blocked == sorted(map(tuple, brute_force_topk(corpus, q, k=5).collect()))


def test_query_blocks_rescan_cap(spark):
    """The block-nested path bounds its corpus-rescan bill: past
    MAX_QUERY_BLOCKS blocks it refuses, naming the ANN alternative —
    the one refusal left in the exact family."""
    import pytest

    from cql_xmlpipe_spark.operators import similarity as S

    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 70 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    with pytest.raises(ValueError, match="blocks"):
        S.topk_matmul(corpus, q, k=5, max_query_mb=0)  # 65 one-row blocks > 64
    with pytest.raises(ValueError, match="banded"):
        S._radius_matmul(corpus, q, 0.9, "vec_id", "embedding", "q_id", "q_emb",
                         max_query_mb=0)


def test_radius_matmul_query_blocks_exact(spark):
    """The radius matmul path also blocks past the closure budget —
    same qualifying set as broadcast, forwarded through radius_search's
    max_query_mb passthrough (the r13 ADVICE passthrough gap)."""
    corpus = _radius_corpus(spark)
    q = corpus.filter("vec_id < 40 AND embedding IS NOT NULL").selectExpr(
        "vec_id AS q_id", "embedding AS q_emb"
    )
    ex = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.9, candidates="broadcast").collect()}
    bl = {(r["q_id"], r["vec_id"]): r["cos"]
          for r in radius_search(corpus, q, 0.9, candidates="matmul",
                                 max_query_mb=0).collect()}
    assert set(ex) == set(bl) and len(ex) >= 30
    assert max(abs(ex[k] - bl[k]) for k in ex) < 1e-12


def test_char_entropy_degenerate_and_two_symbol(spark, tmp_path):
    sf = str(tmp_path)
    _write_documents(
        spark,
        sf,
        [
            (0, "aaaa", "en", "s", 4),
            (1, "ab", "en", "s", 2),
            (2, "Hello, World!", "en", "s", 13),
        ],
    )
    got = {r["doc_id"]: r for r in text_char_entropy(spark, sf).collect()}
    # single symbol: zero entropy, full concentration
    assert got[0]["distinct_chars"] == 1
    assert got[0]["top_char_frac"] == 1.0
    assert got[0]["char_entropy_nats"] == 0.0
    # two equiprobable symbols: ln 2 through the x1e9 quantizer
    t = math.floor(-(0.5 * math.log(0.5)) * 1e9 + 0.5)
    assert got[1]["char_entropy_nats"] == 2 * t / 1e9
    assert abs(got[1]["char_entropy_nats"] - math.log(2)) < 1e-8
    # normalization: "hello# world#" -> 13 chars, 'l' dominates with 3
    assert got[2]["n_chars_norm"] == 13
    assert got[2]["top_char_frac"] == 3.0 / 13.0


def test_prototypicality_invariants(spark):
    """Gate math is oracle-pinned; this pins the SEMANTICS: per cluster,
    exactly ceil(0.3*size) rows prune, ranks are a 1..size permutation
    ordered by descending cosine, and the pruned set is the
    most-prototypical prefix (min pruned cos >= max kept cos under the
    deterministic tie-break)."""
    import math

    from cql_xmlpipe_spark.plans.extensions import embedding_prototypicality

    rows = embedding_prototypicality(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in by_cluster.items():
        size = rs[0]["cluster_size"]
        assert len(rs) == size
        assert sorted(r["proto_rank"] for r in rs) == list(range(1, size + 1))
        pruned = [r for r in rs if r["is_pruned"]]
        assert len(pruned) == math.ceil(0.3 * size)
        kept = [r for r in rs if not r["is_pruned"]]
        if pruned and kept:
            # prefix property: on an equal-cos boundary the vec_id
            # tie-break decides, so >= (not >) is the exact invariant
            assert min(p["proto_cos"] for p in pruned) >= max(
                k["proto_cos"] for k in kept
            )
        # rank orders by descending cosine
        srt = sorted(rs, key=lambda r: r["proto_rank"])
        for a, b in zip(srt, srt[1:]):
            assert a["proto_cos"] >= b["proto_cos"]


def test_containment_asymmetry_and_floor(spark, tmp_path):
    """The quote/subset case: a short doc fully embedded in a long one
    flags src->tgt at containment 1.0 while the reverse direction and
    the symmetric Jaccard both stay far below threshold; docs under the
    5-shingle floor never flag as src."""
    from cql_xmlpipe_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog today"  # 10 toks, 8 shingles
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(20))
    rows = [
        (1, quote, "en", "s", len(quote)),
        (2, quote + " " + filler, "en", "s", 0),   # contains doc 1 verbatim
        (3, "tiny shared phrase here", "en", "s", 0),  # 2 shingles < floor
        (4, "tiny shared phrase here plus unrelated continuation text", "en", "s", 0),
    ]
    _write_documents(spark, sf := str(tmp_path), rows)
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    got = {(r["src_id"], r["tgt_id"]): r["containment"]
           for r in ngram_containment_pairs(d).collect()}
    assert got.get((1, 2)) == 1.0          # the embedded quote flags
    assert (2, 1) not in got               # reverse: big doc not inside small
    assert all(p[0] != 3 for p in got)     # under the src floor
    # symmetric Jaccard misses the same pair at its own 0.5 gate
    j = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in ngram_jaccard_pairs(d, threshold=0.5).collect()}
    assert (1, 2) not in j


def test_weighted_sample_favors_heavy_docs(spark, tmp_path):
    """A-ES property pin for corpus_weighted_sample: on a planted
    corpus of 200 heavy (1000-token) and 200 light (10-token) docs,
    the top-100 picks are dominated by heavy docs (u^(1/w) with a
    100x weight ratio), every pick is unique (without replacement),
    and empty docs never appear. The md5-derived uniforms make the
    outcome deterministic, so the dominance assertion is a fixed
    fact of the device, not a flaky statistic."""
    from cql_xmlpipe_spark.plans import extensions as X

    rows = []
    for i in range(200):
        rows.append((i, "heavy", "en", " ".join(["w"] * 1000)))
    for i in range(200, 400):
        rows.append((i, "light", "en", " ".join(["w"] * 10)))
    rows.append((400, "light", "en", ""))  # zero tokens: never sampled
    d = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    orig = X.load_table
    X.load_table = lambda _s, _t, _d: d
    try:
        got = X.corpus_weighted_sample(spark, "unused").collect()
    finally:
        X.load_table = orig
    assert len(got) == 100
    assert len({r["doc_id"] for r in got}) == 100      # without replacement
    assert all(r["doc_id"] != 400 for r in got)        # zero-weight excluded
    n_heavy = sum(1 for r in got if r["source"] == "heavy")
    assert n_heavy >= 80, n_heavy
    ranks = sorted(r["pick_rank"] for r in got)
    assert ranks == list(range(1, 101))
