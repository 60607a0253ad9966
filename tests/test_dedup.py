"""Dedup-operator property tests.

The oracle harness already checks `dedup_exact`/`dedup_ngram_jaccard`
value-for-value against DuckDB; these tests cover what SQL can't:
* LSH candidate recall — every high-jaccard pair must be FOUND by the
  banded MinHash path (candidates ⊇ truth);
* SimHash — near-identical docs land within the Hamming radius;
* embedding near-dup — planted near-duplicate vectors are recovered.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from cql_xmlpipe_spark.operators import dedup as DD
from cql_xmlpipe_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def test_minhash_candidates_superset_of_true_pairs(spark):
    docs = load_table(spark, "documents", SF)
    truth = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5, k=3).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(docs, threshold=0.5, k=3).collect()
    }
    # banded LSH at 16 bands x 4 rows: P(candidate) at j=0.5 is
    # 1-(1-0.5^4)^16 ≈ 0.645 per pair, but verified pairs all have
    # j >= 0.5 where the s-curve is far steeper for higher j; require
    # high recall overall and NO false positives (verify step is exact).
    assert found <= truth | found  # sanity
    missed = truth - found
    assert len(missed) <= max(1, int(0.2 * len(truth))), (
        f"LSH missed {len(missed)}/{len(truth)} true pairs"
    )
    for r in DD.minhash_lsh_pairs(docs, threshold=0.5, k=3).collect():
        assert r["jaccard"] >= 0.5


def test_simhash_finds_planted_near_identical(spark):
    # simhash stability needs edit-fraction << 1: use ~200-token docs
    # differing in ONE occurrence (0.5% edit) so few bit-votes flip
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    base_tokens = rng.choices(vocab, k=200)
    edited = list(base_tokens)
    edited[100] = "zzz"
    rows = [(1, " ".join(base_tokens), "en"), (2, " ".join(edited), "en")]
    for i in range(3, 40):
        rows.append((i, " ".join(rng.choices(vocab, k=200)), "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = {(r["id_a"], r["id_b"]) for r in DD.simhash_near_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs


def test_embedding_near_dup_recovers_planted(spark):
    rng = random.Random(42)
    dim = 32

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    vecs = [(i, unit()) for i in range(40)]
    # plant: vec 100 = tiny perturbation of vec 0 (cosine > 0.99)
    v0 = vecs[0][1]
    perturbed = [x + rng.gauss(0, 0.01) for x in v0]
    n = math.sqrt(sum(x * x for x in perturbed))
    vecs.append((100, [x / n for x in perturbed]))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in DD.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (0, 100) in pairs
    assert pairs[(0, 100)] > 0.99
    for cos in pairs.values():
        assert cos >= 0.95


def test_auto_band_config_policy():
    """Pin the auto-derived sign-LSH geometry at three corpus decades:
    the 16-bit default regime below the ~10⁶ knee, then band_bits
    growing ~2·log₂N with n_bands re-solved for recall ≥ 0.99, junk
    candidates bounded ≤ 32·N at every width (the flat verify floor)."""
    from cql_xmlpipe_spark.operators.similarity import auto_band_config

    assert auto_band_config(10_000) == (23, 16)
    assert auto_band_config(1_000_000) == (37, 20)
    assert auto_band_config(1_000_000_000) == (138, 32)
    p = 1.0 - math.acos(0.95) / math.pi
    prev_bits = 0
    for n in (10**4, 10**5, 10**6, 10**7, 10**8, 10**9):
        n_bands, bits = auto_band_config(n)
        assert bits >= prev_bits  # width monotone in corpus size
        prev_bits = bits
        junk = n_bands * n * (n - 1) / 2 / 2**bits
        assert junk <= 32 * n  # flat floor held
        recall = 1.0 - (1.0 - p**bits) ** n_bands
        assert recall >= 0.99  # recall re-solved, not sacrificed


def test_embedding_near_dup_identical_across_band_widths(spark):
    """The auto-scaled geometry is exactness-preserving where exactness
    is possible: on a corpus whose true near-dups are exact clones
    (identical sign patterns ⇒ guaranteed candidates at ANY width), the
    verified output at the (24,16) default and at the 10⁶-corpus
    auto-config (37,20) must be identical — width moves the junk floor,
    never the contract."""
    rng = random.Random(9)
    dim = 32

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [(i, unit()) for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # 5 exact clones
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    default = sorted(
        map(tuple, DD.embedding_near_dup_pairs(df, threshold=0.95).collect())
    )
    from cql_xmlpipe_spark.operators.similarity import auto_band_config

    wide = sorted(
        map(
            tuple,
            DD.embedding_near_dup_pairs(df, threshold=0.95, n_hint=10**6).collect(),
        )
    )
    assert auto_band_config(10**6) == (37, 20)
    assert default == wide
    assert {(p[0], p[1]) for p in default} >= {(i, 100 + i) for i in range(5)}


def test_ngram_jaccard_verify_variants_identical(spark):
    """The exact-duplicate collapse must emit the SAME pair set with
    bit-identical jaccard values as the plain PPJoin verifier on real
    documents — collapse only changes which pairs are verified, never
    the exact contract."""
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    a = sorted(map(tuple, DD.ngram_jaccard_pairs(docs, threshold=0.35).collect()))
    assert len(a) > 0
    ac = sorted(
        map(tuple, DD.ngram_jaccard_pairs_collapsed(docs, threshold=0.35).collect())
    )
    assert ac == a


def test_minhash_groups_rosters(spark):
    """The linear-output contract: one roster row per multi-doc cluster
    with sorted members, singletons omitted — must agree with the pair
    contract's transitive closure on a planted clone family + chain."""
    fam = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, fam),
        (2, fam),
        (5, fam),  # clone family {1,2,5}
        (9, "an unrelated report about spark catalyst optimizer rules"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["cluster_id"]: (r["cluster_size"], list(r["members"]))
        for r in DD.minhash_groups_collapsed(df, threshold=0.5, k=3).collect()
    }
    assert got == {1: (3, [1, 2, 5])}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(10, "same"), (3, "same"), (7, "other")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in DD.exact_dedup(df).collect()}
    assert rows[3]["keep_id"] == 3 and not rows[3]["is_duplicate"]
    assert rows[10]["keep_id"] == 3 and rows[10]["is_duplicate"]
    assert rows[7]["group_size"] == 1


def test_connected_components_shapes(spark):
    """Path graph (needs multi-round propagation), clique, and singleton."""
    nodes = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    # path 0-1-2-3 (diameter 3), clique {4,5,6}, pair {7,8} via 7-8; 4-5-6 full
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (7, 8)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in DD.connected_components(nodes, edges).collect()
    }
    assert got == {
        0: (0, 4), 1: (0, 4), 2: (0, 4), 3: (0, 4),
        4: (4, 3), 5: (4, 3), 6: (4, 3),
        7: (7, 2), 8: (7, 2),
    }


def test_connected_components_all_singletons(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in DD.connected_components(nodes, edges).collect()}
    assert got == {i: i for i in range(5)}


def test_lsh_fed_cc_matches_exact_fed_cc_on_planted_corpus(spark):
    """The production cluster-assignment path (LSH-pair feed) must produce
    the same clustering as an exact-pair feed on a planted-duplicate
    corpus — high-similarity clone groups (the real dedup workload) sit
    far up the 16x4 banding s-curve, where per-edge recall is ~1."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    rows, doc_id = [], 0
    # 8 clone groups of 3-5 docs, each clone differing in ~2% of tokens
    for _ in range(8):
        base = rng.choices(vocab, k=150)
        for _ in range(rng.randint(3, 5)):
            clone = list(base)
            for _ in range(3):
                clone[rng.randrange(len(clone))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(clone), "en"))
            doc_id += 1
    # 60 unrelated docs
    for _ in range(60):
        rows.append((doc_id, " ".join(rng.choices(vocab, k=150)), "en"))
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    nodes = df.select("doc_id")

    exact = DD.ngram_jaccard_pairs(df, block_col="lang", threshold=0.5, k=3)
    want = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in DD.connected_components(nodes, exact).collect()
    }
    DD.unpersist_intermediates(exact)

    lsh = DD.minhash_lsh_pairs(df, threshold=0.5, k=3)
    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in DD.connected_components(nodes, lsh).collect()
    }
    DD.unpersist_intermediates(lsh)
    assert got == want


def test_simhash_fixture_matches_live_signatures(spark):
    """The pinned SimHash fixture (clean-room XXH64 reimplementation) must
    agree with the live Spark operator on every sf0.001 document — this
    catches a stale fixture after any tokenizer/simhash change."""
    import duckdb
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", SF)
    got = {
        r["k"]: r["simhash"]
        for r in DD.simhash_signatures(d)
        .join(d, "doc_id")
        .select(F.md5("text").alias("k"), "simhash")
        .collect()
    }
    fx = dict(
        duckdb.sql(
            "SELECT text_md5, simhash FROM "
            "read_parquet('/root/repo/tests/fixtures/simhash_documents.parquet')"
        ).fetchall()
    )
    assert all(fx.get(k) == v for k, v in got.items())


def test_minhash_band_fixture_matches_live_band_keys(spark):
    """The pinned MinHash band-key fixture (clean-room XXH64, numeric
    input paths) must agree with the live operator's banding on every
    sf0.001 document — the LSH-fed family's oracles model the banded
    candidate join from this fixture, so a stale or divergent fixture
    must fail HERE, loudly, not as an opaque oracle mismatch."""
    import duckdb
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", SF)
    sets = DD.shingle_hash_sets(d)
    live = (
        DD._minhash_sigs(sets, "doc_id")
        .withColumn("bk", DD._band_keys())
        .join(d, "doc_id")
        .select(F.md5("text").alias("k"), F.posexplode("bk").alias("band", "key"))
        .collect()
    )
    fx = {
        (md5, band): key
        for md5, band, key in duckdb.sql(
            "SELECT text_md5, band, key FROM "
            "read_parquet('/root/repo/tests/fixtures/minhash_bands.parquet')"
        ).fetchall()
    }
    assert live and all(fx.get((r["k"], r["band"])) == r["key"] for r in live)


def test_paragraph_dup_stats_planted(spark):
    """Multi-paragraph splitting semantics on a planted corpus: shared
    boilerplate paragraphs across docs are flagged, unique ones are not,
    within-doc repeats don't count as cross-doc, and blank segments drop."""
    boiler = "subscribe to our newsletter"
    docs = [
        (0, f"alpha unique one\n\n{boiler}\n\nbeta unique two"),
        (1, f"{boiler}\n\n\n\ngamma unique three"),      # 2+ newlines = one break
        (2, "delta unique four\n\ndelta unique four"),    # within-doc repeat only
        (3, "epsilon solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in DD.paragraph_dup_stats(df).collect()}
    assert got[0]["n_paras"] == 3 and got[0]["n_dup_paras"] == 1
    assert got[0]["dup_fraction"] == pytest.approx(1 / 3)
    assert got[1]["n_paras"] == 2 and got[1]["n_dup_paras"] == 1
    assert got[2]["n_paras"] == 2 and got[2]["n_dup_paras"] == 0
    assert got[3]["n_paras"] == 1 and got[3]["n_dup_paras"] == 0


def test_collapsed_pairs_equal_uncollapsed_on_cloned_corpus(spark):
    """minhash_lsh_pairs_collapsed must return EXACTLY the pair set of the
    uncollapsed operator — on a corpus where every document carries an
    exact clone (the case the collapse optimizes) plus the natural
    near-dups of the real testdata. Also pins the claimed jaccard values
    (within-group pairs emit literal 1.0; identical sets compute 1.0)."""
    d = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    off = d.agg(F.max("doc_id")).collect()[0][0] + 1
    cloned = d.unionByName(
        d.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    base = sorted(
        tuple(r)
        for r in DD.minhash_lsh_pairs(cloned, threshold=0.5).collect()
    )
    fast = sorted(
        tuple(r)
        for r in DD.minhash_lsh_pairs_collapsed(cloned, threshold=0.5).collect()
    )
    assert len(base) >= len(d.collect())  # every doc pairs with its clone
    assert fast == base


def test_collapsed_ops_accept_shared_membership_map(spark):
    """r15: both collapsed operators accept a caller-staged (id, rep)
    membership map (the recall gates build ONE sha256 window for their
    LSH and exact-PPJoin sides instead of two) — output must be
    identical to the own-map path, for the LSH op on any corpus and for
    the PPJoin op whenever its block is CONSTANT (the only contract
    under which the caller may share a text-keyed map)."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    off = d.agg(F.max("doc_id")).collect()[0][0] + 1
    cloned = d.unionByName(
        d.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    mem = (
        cloned.select(F.col("doc_id"), F.sha2(F.col("text"), 256).alias("_th"))
        .select(
            F.col("doc_id"),
            F.min("doc_id").over(W.partitionBy("_th")).alias("rep"),
        )
        .persist()
    )
    own_lsh = DD.minhash_lsh_pairs_collapsed(cloned, threshold=0.5)
    shared_lsh = DD.minhash_lsh_pairs_collapsed(cloned, threshold=0.5, mem=mem)
    assert sorted(map(tuple, own_lsh.collect())) == sorted(
        map(tuple, shared_lsh.collect())
    )
    blk = cloned.withColumn("_blk", F.lit(1))
    own_ng = DD.ngram_jaccard_pairs_collapsed(blk, block_col="_blk", threshold=0.5)
    shared_ng = DD.ngram_jaccard_pairs_collapsed(
        blk, block_col="_blk", threshold=0.5, mem=mem
    )
    assert sorted(map(tuple, own_ng.collect())) == sorted(
        map(tuple, shared_ng.collect())
    )
    for frame in (own_lsh, shared_lsh, own_ng, shared_ng):
        DD.unpersist_intermediates(frame)
    mem.unpersist()


def test_collapsed_cluster_assign_equal_uncollapsed(spark):
    """cluster_assign_collapsed ≡ connected_components(minhash_lsh_pairs)
    row-for-row on the cloned corpus (labels AND sizes)."""
    d = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    off = d.agg(F.max("doc_id")).collect()[0][0] + 1
    cloned = d.unionByName(
        d.select((F.col("doc_id") + off).alias("doc_id"), "text")
    )
    pairs = DD.minhash_lsh_pairs(cloned, threshold=0.5)
    base = sorted(
        tuple(r)
        for r in DD.connected_components(cloned.select("doc_id"), pairs).collect()
    )
    fast = sorted(
        tuple(r) for r in DD.cluster_assign_collapsed(cloned, threshold=0.5).collect()
    )
    assert fast == base
    # every cluster now has size >= 2 (each doc has its clone)
    assert all(row[2] >= 2 for row in fast)


def test_unpersist_intermediates_releases_tracked_caches(spark):
    """The documented cleanup contract: a pairs operator's persisted
    intermediates stay cached until the lazy result is consumed, and
    unpersist_intermediates() actually releases every tracked frame —
    the API the oracle harness now exercises per query."""
    docs = load_table(spark, "documents", SF)
    spark.catalog.clearCache()
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.5, k=3)
    pairs.count()  # materialize: persists are now populated
    tracked = getattr(pairs, "_xmlpipe_cached", [])
    assert tracked, "minhash_lsh_pairs should track its persisted intermediates"
    assert all(t.storageLevel.useMemory or t.storageLevel.useDisk for t in tracked)
    DD.unpersist_intermediates(pairs, blocking=True)
    assert getattr(pairs, "_xmlpipe_cached", None) == []
    assert all(
        not (t.storageLevel.useMemory or t.storageLevel.useDisk) for t in tracked
    )


def test_connected_components_drift_chain_converges(spark):
    """Drift-chain hardening (VERDICT r10 #2): a progressive-edit near-dup
    chain v0~v1~…~v1000 has diameter 1000 — plain min-label propagation
    needs 1000 rounds and provably raised under max_iter=25 before the
    pointer-jump escalation. With jumps from round jump_after on, reach
    better-than-doubles per round, so the chain must converge inside the
    default 25-round budget AND still label every vertex with the
    min-REACHABLE id (the survivor-policy contract)."""
    n = 1001
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    cc = DD.connected_components(nodes, chain)
    row = cc.agg(
        F.count_distinct("cluster_id").alias("nc"),
        F.min("cluster_id").alias("mn"),
        F.max("cluster_id").alias("mx"),
        F.max("cluster_size").alias("sz"),
        F.count(F.lit(1)).alias("nv"),
    ).first()
    assert (row["nc"], row["mn"], row["mx"], row["sz"], row["nv"]) == (1, 0, 0, n, n)


def test_connected_components_plain_rounds_insufficient_for_chain(spark):
    """Pins the failure mode the escalation exists for: with the jump
    disabled (jump_after >= max_iter) the same 120-link chain cannot
    reach a fixpoint in 25 plain rounds and must raise loudly rather
    than silently truncate components."""
    n = 120
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        DD.connected_components(nodes, chain, jump_after=25)


def test_connected_components_chain_plus_cliques_min_labels(spark):
    """Mixed shape: a 60-link drift chain offset to high ids plus two
    disjoint triangles — labels must be each component's min id and the
    singleton population must pass through untouched."""
    edges = [(1000 + i, 1000 + i + 1) for i in range(60)]
    edges += [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(v,) for v in sorted({x for e in edges for x in e} | {5000})],
        "doc_id long",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in
           DD.connected_components(nodes, pairs).collect()}
    assert out[1060] == (1000, 61) and out[1000] == (1000, 61)
    assert out[1] == (1, 3) and out[3] == (1, 3)
    assert out[9] == (7, 3)
    assert out[5000] == (5000, 1)


_FAM = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _fi_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fi_emb(spark):
    rows = [(i, [1.0, 2.0, 3.0, float(i + 1)]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _fi_corpus(spark):
    rows = [(i, _FAM) for i in range(4)]
    rows += [(10 + i, f"unique corpus document number {i} about topic {i * 7}")
             for i in range(6)]
    return _fi_docs(spark, rows)


def _fi_increment(spark):
    return _fi_docs(spark, [(100, _FAM), (101, "a novel batch doc with fresh words")])


def _fi_rosters(spark):
    return spark.createDataFrame(
        [(0, 4, [0, 1, 2, 3])],
        "cluster_id long, cluster_size long, members array<long>",
    )


def _fi_roster_update(spark):
    return DD.incremental_roster_update(
        _fi_corpus(spark), _fi_increment(spark), _fi_rosters(spark), threshold=0.35
    )


def _fi_refresh(spark, corpus_rows=None, inc_rows=None, max_pairs=None):
    corpus = _fi_docs(spark, corpus_rows) if corpus_rows else _fi_corpus(spark)
    inc = _fi_docs(spark, inc_rows) if inc_rows else _fi_increment(spark)
    return DD.incremental_roster_refresh(corpus, inc, threshold=0.35, max_pairs=max_pairs)


def _fi_semdedup(spark):
    from cql_xmlpipe_spark.plans.extensions import _semdedup_core

    return _semdedup_core(_fi_emb(spark), 2, 0.95)


def _fi_recall_gate(spark):
    from cql_xmlpipe_spark.plans.extensions import dedup_minhash_recall

    return dedup_minhash_recall(spark, SF)


# stage -> (operator run, monkeypatch target replaced by a planted raise
# — or None for a real guard refusal — and the error the run surfaces)
_FAILURE_STAGES = {
    "embedding_groups-cc": (
        lambda s: DD.embedding_near_dup_groups(_fi_emb(s), threshold=0.95),
        (DD, "connected_components"), "planted",
    ),
    "minhash_groups-lsh": (
        lambda s: DD.minhash_groups_collapsed(_fi_corpus(s), threshold=0.35),
        (DD, "minhash_lsh_pairs"), "planted",
    ),
    "minhash_groups-cc": (
        lambda s: DD.minhash_groups_collapsed(_fi_corpus(s), threshold=0.35),
        (DD, "connected_components"), "planted",
    ),
    "roster_update-probe": (
        _fi_roster_update, (DD, "incremental_probe_pairs"), "planted",
    ),
    "roster_update-batch": (
        _fi_roster_update, (DD, "minhash_lsh_pairs_collapsed"), "planted",
    ),
    "roster_update-assemble_cc": (
        _fi_roster_update, (DD, "connected_components"), "planted",
    ),
    "roster_refresh-standing": (
        _fi_refresh, (DD, "minhash_groups_collapsed"), "planted",
    ),
    # 40 corpus copies x 40 batch copies of one text = 1600 cross pairs
    "roster_refresh-probe_refusal": (
        lambda s: _fi_refresh(
            s,
            corpus_rows=[(i, _FAM) for i in range(40)],
            inc_rows=[(100 + i, _FAM) for i in range(40)],
            max_pairs=1000,
        ),
        None, "incremental_probe_pairs",
    ),
    # a 60-copy family inside the batch only = C(60, 2) = 1770 pairs
    "roster_refresh-batch_refusal": (
        lambda s: _fi_refresh(
            s,
            inc_rows=[(100 + i, "the same hot batch clone text everywhere")
                      for i in range(60)],
            max_pairs=1000,
        ),
        None, "minhash_lsh_pairs_collapsed",
    ),
    "recall_gate-lsh": (
        _fi_recall_gate, (DD, "minhash_lsh_pairs"), "planted",
    ),
    "recall_gate-exact": (
        _fi_recall_gate, (DD, "ngram_jaccard_pairs_collapsed"), "planted",
    ),
    "semdedup-lloyd": (
        _fi_semdedup, ("cql_xmlpipe_spark.plans.extensions._lloyd_update",), "planted",
    ),
}


@pytest.mark.parametrize("stage", sorted(_FAILURE_STAGES))
def test_failure_releases_pins(spark, monkeypatch, stage):
    """A failure at any stage of a staging operator — a planted raise
    after its first pins, or a real pair-budget refusal — must leave
    nothing persisted: every pin lives in a Staging block that releases
    it when the exception escapes."""
    run, target, match = _FAILURE_STAGES[stage]
    spark.catalog.clearCache()
    if target is not None:
        def planted(*a, **k):
            raise RuntimeError("planted failure")

        monkeypatch.setattr(*target, planted)
    with pytest.raises((RuntimeError, DD.PairOutputBudgetExceeded), match=match):
        run(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_banded_sign_keys_deterministic_and_band_shaped(spark):
    """The Arrow-batched sign sketch must be run-to-run deterministic
    (splitmix64 weights, fixed numpy pairwise-sum order) and emit exactly
    n_bands fixed-width keys per vector — the properties the candidate
    join's shuffle discipline relies on."""
    from cql_xmlpipe_spark.operators.similarity import banded_sign_keys

    rng = random.Random(7)
    df = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    n_bands, band_bits = 6, 16
    a = banded_sign_keys(df, "embedding", "vec_id", n_bands, band_bits).collect()
    b = banded_sign_keys(df, "embedding", "vec_id", n_bands, band_bits).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_vec = {}
    for r in a:
        per_vec.setdefault(r["vec_id"], []).append((r["band"], r["bkey"]))
        assert 0 <= r["bkey"] < (1 << band_bits)
    assert all(
        sorted(band for band, _ in v) == list(range(n_bands))
        for v in per_vec.values()
    )


def test_banded_sign_keys_null_and_ragged_embeddings(spark):
    """NULL embeddings must be dropped (matching the Column-expression
    paths' NULL propagation — a null vector can never be a candidate),
    and a ragged batch must fail with a message naming the off-dimension
    ids, not an opaque numpy stack error."""
    import pytest

    from cql_xmlpipe_spark.operators.similarity import banded_sign_keys

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(10)]
    rows.append((10, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = banded_sign_keys(df, "embedding", "vec_id", 3, 8).collect()
    assert {r["vec_id"] for r in got} == set(range(10))
    assert len(got) == 30

    ragged = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [1.0, -2.0, 3.0]), (3, [1.0, -2.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    with pytest.raises(Exception) as ei:
        banded_sign_keys(ragged, "embedding", "vec_id", 3, 8).collect()
    assert "ragged" in str(ei.value) and "vec_id" in str(ei.value)


def test_plane_matrix_is_stable_fixture():
    """Pin a few splitmix64-derived weights so a silent change to the
    plane derivation (which would reshuffle every LSH bucket) fails
    loudly rather than as a recall drift."""
    from cql_xmlpipe_spark.operators.similarity import _plane_matrix

    w = _plane_matrix(4, 2)  # dim=4, planes=2 -> 4x2
    assert w.shape == (4, 2)
    expected = []
    for i in range(8):  # flat plane*dim index, row-major (plane, dim)
        z = (i + 0x9E3779B97F4A7C15) % (1 << 64)
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        z = z ^ (z >> 31)
        expected.append(round((z % 1000) / 1000.0 - 0.5, 3))
    assert [round(float(x), 3) for x in w.T.reshape(-1)] == expected


def test_simhash_combo_keys_pigeonhole_complete(spark):
    """Direct pin of the Manku-banding exactness contract on injected
    signatures: for ANY pair within Hamming <= max_hamming, at least one
    3-block combo key must match at the same combo position (the join is
    on (combo, ckey)). 400 seeded random signatures, flip counts 0..h."""
    import random

    from cql_xmlpipe_spark.operators.dedup import _simhash_combo_keys

    rng = random.Random(0xC0FFEE)
    for max_hamming in (1, 3, 6):
        rows = []
        for i in range(400):
            x = rng.getrandbits(64)
            d = i % (max_hamming + 1)
            y = x
            for bit in rng.sample(range(64), d):
                y ^= 1 << bit
            # store as signed int64 the way simhash signatures are
            to_i64 = lambda v: v - (1 << 64) if v >= (1 << 63) else v
            rows.append((i, to_i64(x), to_i64(y)))
        df = spark.createDataFrame(rows, "pid long, sig_x long, sig_y long")
        kx = _simhash_combo_keys(F.col("sig_x"), max_hamming)
        ky = _simhash_combo_keys(F.col("sig_y"), max_hamming)
        misses = df.select(
            "pid",
            F.size(
                F.filter(
                    F.zip_with(kx, ky, lambda a, b: a == b), lambda m: m
                )
            ).alias("shared"),
        ).filter(F.col("shared") == 0)
        assert misses.count() == 0, (
            f"pigeonhole violated at max_hamming={max_hamming}"
        )


def test_pair_budget_guard_raises_on_hot_clone_family(spark):
    """Round-9 guard-rail: a clone-heavy corpus whose PAIR output is
    intractable by arithmetic must fail the pre-flight with a message
    pointing at the linear roster contract — before any LSH/verify work
    launches (the skew-100x lesson: one 50k-clone family = 1.25B pair
    rows BY CONTRACT, SCALE.md)."""
    rows = [(i, "the same cloned document text repeated everywhere") for i in range(200)]
    rows += [(1000 + i, f"unique filler document number {i} with its own words") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # C(200,2) = 19,900 within-family pairs > cap
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3, max_pairs=1_000)
    msg = str(ei.value)
    assert "19,900" in msg and "minhash_groups_collapsed" in msg and "200" in msg


def test_pair_budget_guard_passes_under_cap(spark):
    """Same corpus under a permissive cap must produce the full pair set
    (guard is a pre-flight, not a truncation): C(200,2) clone pairs all
    present at jaccard 1.0."""
    rows = [(i, "the same cloned document text repeated everywhere") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3, max_pairs=50_000)
    assert out.count() == 199 * 200 // 2
    DD.unpersist_intermediates(out)


def test_band_geometry_resolution_precedence(spark):
    """_resolve_band_geometry precedence table: explicit params win (each
    independently), n_hint drives auto_band_config EVEN under
    auto_geometry=False (the flag forbids only the eager COUNT(*) — a
    caller-supplied hint costs no action), no-hint auto spends a
    COUNT(*), and only no-hint + auto_geometry=False falls back to the
    fixed (24, 16) defaults."""
    from cql_xmlpipe_spark.operators.dedup import _resolve_band_geometry
    from cql_xmlpipe_spark.operators.similarity import auto_band_config

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(37)], "vec_id long, embedding array<float>"
    )
    t = 0.95
    assert _resolve_band_geometry(df, t, 30, 20, None, True) == (30, 20)
    assert _resolve_band_geometry(df, t, 30, None, 10**9, True) == (30, 16)
    assert _resolve_band_geometry(df, t, None, 20, 10**9, True) == (24, 20)
    assert _resolve_band_geometry(df, t, None, None, 10**6, True) == auto_band_config(10**6, t)
    assert _resolve_band_geometry(df, t, None, None, 10**6, False) == auto_band_config(10**6, t)
    # no hint + auto: derives from the actual count (37 vectors)
    assert _resolve_band_geometry(df, t, None, None, None, True) == auto_band_config(37, t)
    assert _resolve_band_geometry(df, t, None, None, None, False) == (24, 16)


def test_embedding_auto_geometry_output_identical(spark):
    """The r9 default auto-geometry path must emit byte-identical pairs to
    the fixed (24,16) geometry at this scale: exact verification forbids
    false positives at any width, and at a corpus this small every
    width's recall saturates (per-pair miss probability ~1e-7), so the
    outputs are exactly equal. (At decade scale, widths may differ
    inside the <1% solved miss budget — measured in SCALE.md.)"""
    emb = load_table(spark, "embeddings", SF)
    auto = sorted(
        (r["id_a"], r["id_b"], round(r["cos"], 12))
        for r in DD.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    )
    fixed = sorted(
        (r["id_a"], r["id_b"], round(r["cos"], 12))
        for r in DD.embedding_near_dup_pairs(
            emb, threshold=0.9, n_bands=24, band_bits=16
        ).collect()
    )
    assert auto == fixed


def test_embedding_pair_budget_guard(spark):
    """The embedding pair contract gets the same pre-flight: a hot
    identical-vector family past the cap raises before any LSH work;
    under the cap the full pair set is produced."""
    hot = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(100)]
    cold = [(1000 + i, [float(i), 1.0, -2.0, 0.5]) for i in range(10)]
    df = spark.createDataFrame(hot + cold, "vec_id long, embedding array<float>")
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.embedding_near_dup_pairs(df, threshold=0.95, max_pairs=1_000)
    msg = str(ei.value)
    assert "4,950" in msg and "100" in msg
    out = DD.embedding_near_dup_pairs(df, threshold=0.95, max_pairs=10_000)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(a, b) for a in range(100) for b in range(a + 1, 100)} <= got
    DD.unpersist_intermediates(out)


# ---------------------------------------------------------------------------
# round 10: embedding roster contract, two-stage guards, sampled recall
# ---------------------------------------------------------------------------


def _unit_vec(rng, dim=32):
    v = [rng.gauss(0, 1) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_embedding_groups_rosters(spark):
    """The embedding roster contract on a planted corpus: an identical
    family, a jittered satellite that merges through a rep pair, an
    UNRELATED identical family, a zero-norm family (NaN cosine — must
    never surface), a NULL embedding, and singletons. One roster row per
    eligible multi-vector component, sorted members, min-id labels."""
    rng = random.Random(7)
    base_a = _unit_vec(rng)
    base_b = _unit_vec(rng)
    jitter = [x + rng.gauss(0, 1e-3) for x in base_a]
    jn = math.sqrt(sum(x * x for x in jitter))
    jitter = [x / jn for x in jitter]
    rows = [
        (0, base_a), (1, base_a), (2, base_a),      # identical family A
        (10, jitter), (11, jitter),                  # jitter of A: merges in
        (20, base_b), (21, base_b),                  # identical family B
        (30, [0.0] * 32), (31, [0.0] * 32),          # zero-norm: ineligible
        (40, None),                                  # null: never enters
        (50, _unit_vec(rng)),                        # singleton: omitted
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v] if v is not None else None) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = DD.embedding_near_dup_groups(df, threshold=0.95)
    got = {
        r["cluster_id"]: (r["cluster_size"], list(r["members"]))
        for r in out.collect()
    }
    assert got == {0: (5, [0, 1, 2, 10, 11]), 20: (2, [20, 21])}
    DD.unpersist_intermediates(out)


def test_embedding_groups_match_pairs_cc(spark):
    """Roster output ≡ union-find over the pair contract's output on a
    random planted corpus — the same equivalence the text family pins."""
    rng = random.Random(21)
    rows = [(i, _unit_vec(rng)) for i in range(30)]
    # three clone families of sizes 4/3/2 + a near-dup bridge 100<->0
    rows += [(100 + j, rows[0][1]) for j in range(3)]
    rows += [(200 + j, rows[1][1]) for j in range(2)]
    rows += [(300, rows[2][1])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    pairs_df = DD.embedding_near_dup_pairs(df, threshold=0.95)
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    DD.unpersist_intermediates(pairs_df)
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for v in parent:
        comps.setdefault(find(v), []).append(v)
    expected = {
        min(ms): (len(ms), sorted(ms)) for ms in comps.values() if len(ms) >= 2
    }
    out = DD.embedding_near_dup_groups(df, threshold=0.95)
    got = {
        r["cluster_id"]: (r["cluster_size"], list(r["members"]))
        for r in out.collect()
    }
    assert got == expected
    DD.unpersist_intermediates(out)


def test_zero_norm_vectors_never_pair(spark):
    """Pins the zero-norm exclusion: unguarded, identical zero vectors
    share every sign-LSH bucket (0 >= 0 on every plane) and their
    cosine is 0/0 — DIVIDE_BY_ZERO under the engine's ANSI session
    (this exact corpus crashed the unguarded verify mid-round-10), NaN
    with ANSI off (which both engines order above any number, i.e.
    garbage pairs). The eligibility filter keeps them out of the index
    entirely; cosine_safe pins NULL as defense in depth."""
    rng = random.Random(3)
    rows = [(i, _unit_vec(rng)) for i in range(10)]
    rows += [(100, [0.0] * 32), (101, [0.0] * 32), (102, [0.0] * 32)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = DD.embedding_near_dup_pairs(df, threshold=0.95)
    ids_in_pairs = {
        x for r in out.collect() for x in (r["id_a"], r["id_b"])
    }
    assert ids_in_pairs.isdisjoint({100, 101, 102})
    DD.unpersist_intermediates(out)


def test_embedding_bucket_guard_refuses_jittered_hot_family(spark):
    """Second-stage candidate-volume guard (round 10): a hot family with
    per-vector last-bit jitter defeats the identical-vector pricing
    (every hash differs, clone_pairs = 0) but still lands in one bucket
    per band — the per-band Σ C(bucket,2) lower bound must refuse before
    the self-join, naming the roster contract and the stage that fired."""
    rng = random.Random(13)
    base = _unit_vec(rng)
    rows = []
    for i in range(300):
        v = list(base)
        v[i % 32] += 1e-7 * (i + 1)  # unique bytes, ~identical direction
        rows.append((i, [float(x) for x in v]))
    rows += [(1000 + j, [float(x) for x in _unit_vec(rng)]) for j in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.embedding_near_dup_pairs(df, threshold=0.95, max_pairs=1_000)
    msg = str(ei.value)
    assert "candidate" in msg and "embedding_near_dup_groups" in msg
    assert "44,850" in msg  # C(300,2): the whole family in one bucket


def test_embedding_bucket_guard_passes_under_cap(spark):
    """Same jittered corpus under a permissive cap: the guard is a
    pre-flight, not a truncation — the full C(300,2) verified pair set
    comes through (the jitter keeps every family pair above 0.95)."""
    rng = random.Random(13)
    base = _unit_vec(rng)
    rows = []
    for i in range(300):
        v = list(base)
        v[i % 32] += 1e-7 * (i + 1)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = DD.embedding_near_dup_pairs(df, threshold=0.95, max_pairs=100_000)
    assert out.count() == 300 * 299 // 2
    DD.unpersist_intermediates(out)


def test_text_guard_prices_only_eligible_families(spark):
    """ADVICE r9: zero-shingle texts (here: empty strings) never pair, so
    a hot family of them must NOT trip the pre-flight — the bound prices
    eligible families only (a true lower bound, not a conservative
    overcount)."""
    rows = [(i, "") for i in range(300)]  # hot INELIGIBLE family
    rows += [(1000 + i, f"unique filler document number {i} here") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3, max_pairs=1_000)
    ids = {x for r in out.collect() for x in (r["id_a"], r["id_b"])}
    assert all(i >= 1000 for i in ids)  # empty docs never pair
    DD.unpersist_intermediates(out)


def test_embedding_guard_prices_only_eligible_families(spark):
    """Embedding twin of the eligibility fix: a hot family of identical
    ZERO vectors (NaN cosine, never emitted) must not trip the pricing."""
    rng = random.Random(5)
    rows = [(i, [0.0] * 16) for i in range(300)]
    rows += [(1000 + j, [float(x) for x in _unit_vec(rng, 16)]) for j in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = DD.embedding_near_dup_pairs(df, threshold=0.95, max_pairs=1_000)
    assert out.count() == 0
    DD.unpersist_intermediates(out)


def test_stratum_filter_fraction_and_determinism(spark):
    """The md5 stratum rule is deterministic, id-only, and hits ≈ frac:
    recompute membership in pure Python (hashlib) and compare exactly."""
    import hashlib

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    got = {
        r["doc_id"]
        for r in df.filter(DD.stratum_filter("doc_id", 0.25)).collect()
    }
    hi = format(int(round(0.25 * 65536)) - 1, "04x")
    expected = {
        i for i in range(2000)
        if hashlib.md5(str(i).encode()).hexdigest()[:4] <= hi
    }
    assert got == expected
    assert 0.20 <= len(got) / 2000 <= 0.30


def test_minhash_recall_sampled_planted(spark):
    """Sampled recall on a clone-planted corpus: every true pair is an
    exact clone (guaranteed found by LSH), so the estimate is exactly
    1.0 with the Wilson interval pinned at [lo < 1, hi == 1]; n_exact
    must equal the INDEPENDENTLY-computed count of stratum-internal
    clone pairs (the restriction is exact, not approximate)."""
    import hashlib
    from itertools import combinations

    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = "one two three four five six seven eight nine ten eleven"
    rows = [(i, fam_a) for i in range(40)]
    rows += [(100 + i, fam_b) for i in range(20)]
    rows += [(1000 + i, f"unique document number {i} with own words") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    frac = 0.5
    hi = format(int(round(frac * 65536)) - 1, "04x")

    def in_stratum(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:4] <= hi

    expected_pairs = 0
    for fam in (list(range(40)), list(range(100, 120))):
        members = [i for i in fam if in_stratum(i)]
        expected_pairs += len(list(combinations(members, 2)))
    out = DD.minhash_recall_sampled(df, threshold=0.5, k=3, sample_frac=frac)
    row = out.collect()[0]
    assert row["n_exact"] == expected_pairs > 0
    assert row["n_found"] == row["n_exact"]
    assert row["recall_est"] == 1.0
    assert row["ci95_lo"] < 1.0
    assert abs(row["ci95_hi"] - 1.0) < 1e-12
    DD.unpersist_intermediates(out)


def test_minhash_recall_sampled_empty_stratum(spark):
    """A pair-free stratum reports NULL estimate and bounds — the same
    pinned-NULL discipline as the exact gate, not a 0/0 artifact."""
    rows = [(i, f"totally unique text number {i} nothing shared") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.minhash_recall_sampled(df, threshold=0.5, k=3, sample_frac=0.5)
    row = out.collect()[0]
    assert row["n_exact"] == 0
    assert row["recall_est"] is None
    assert row["ci95_lo"] is None and row["ci95_hi"] is None
    DD.unpersist_intermediates(out)


def test_default_max_pairs_env_knob(monkeypatch):
    """default_max_pairs: 10**9 unset, env overrides, 0 disables."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PAIRS", raising=False)
    assert DD.default_max_pairs() == 1_000_000_000
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "12345")
    assert DD.default_max_pairs() == 12345
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "0")
    assert DD.default_max_pairs() is None


def test_embedding_incremental_probe_planted(spark):
    """Embedding incremental probe: planted batch↔corpus near-dups are
    recovered, batch×batch and corpus×corpus pairs are NEVER emitted
    (the contract is cross-set only), zero-norm vectors on either side
    are excluded, and geometry resolves once for both sides."""
    rng = random.Random(31)
    base = _unit_vec(rng)
    corpus_rows = [(i, _unit_vec(rng)) for i in range(1, 30)]
    corpus_rows += [(100, base), (101, base)]        # corpus-internal clone pair
    corpus_rows += [(102, [0.0] * 32)]               # zero-norm corpus vector
    inc_rows = [(200, base)]                         # near-dups 100/101 in corpus
    inc_rows += [(201, _unit_vec(rng))]              # unrelated batch vector
    inc_rows += [(202, [0.0] * 32)]                  # zero-norm batch vector
    mk = lambda rows: spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = DD.embedding_incremental_probe_pairs(mk(corpus_rows), mk(inc_rows))
    got = {(r["inc_id"], r["corpus_id"]): r["cos"] for r in out.collect()}
    assert set(got) == {(200, 100), (200, 101)}
    assert all(c >= 0.95 for c in got.values())
    DD.unpersist_intermediates(out)


def test_text_bucket_guard_refuses_jittered_hot_family(spark):
    """Text twin of the second-stage guard: a hot family whose clones are
    each rewritten in ONE token defeats the exact-clone arithmetic (all
    texts distinct, stage-1 prices ~0) but still collides in the banded
    MinHash index — the per-band Σ C(bucket,2) bound must refuse before
    the candidate self-join, naming the roster contract."""
    base = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(300):
        toks = list(base)
        toks[i % 60] = f"edit{i}"  # one-token jitter: J ≈ 0.9 vs base
        rows.append((i, " ".join(toks)))
    rows += [(1000 + j, f"unique filler document number {j} here") for j in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3, max_pairs=1_000)
    msg = str(ei.value)
    assert "candidate" in msg and "minhash_groups_collapsed" in msg


def test_text_bucket_guard_passes_under_cap(spark):
    """Same jittered corpus under a permissive cap: full verified pair
    set comes through (guard is a pre-flight, not a truncation)."""
    base = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(50):
        toks = list(base)
        toks[i % 60] = f"edit{i}"
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3, max_pairs=10**7)
    uncapped = DD.minhash_lsh_pairs_collapsed(df, threshold=0.5, k=3)
    got_c = sorted(map(tuple, capped.collect()))
    got_u = sorted(map(tuple, uncapped.collect()))
    assert got_c == got_u and len(got_c) > 0
    DD.unpersist_intermediates(capped)
    DD.unpersist_intermediates(uncapped)


def test_containment_jitter_guard_refuses(spark):
    """ADVICE r12: a jittered hot family (every clone's text rewritten in
    one token) defeats containment's exact-clone sha256 arithmetic —
    stage 1 prices ~0 because every text is distinct — yet every replica
    pair still verifies at containment >= threshold, so the quadratic
    candidate/verify/output bill remains. The prefix-posting stage-2
    bound must refuse before the inverted-index join launches."""
    base = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(300):
        toks = list(base)
        toks[i % 60] = f"edit{i}"  # one-token jitter: containment ≈ 0.95
        rows.append((i, " ".join(toks), "en"))
    rows += [(1000 + j, f"unique filler document number {j} here", "en") for j in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.ngram_containment_pairs(df, max_pairs=1_000)
    msg = str(ei.value)
    assert "prefix-posting" in msg and "ORDERED candidate" in msg


def test_containment_jitter_guard_passes_under_cap(spark):
    """Same jittered corpus shape under a permissive cap: the full
    ordered verified pair set comes through unchanged — the guard is a
    pre-flight, not a truncation."""
    base = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(50):
        toks = list(base)
        toks[i % 60] = f"edit{i}"
        rows.append((i, " ".join(toks), "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = DD.ngram_containment_pairs(df, max_pairs=10**7)
    uncapped = DD.ngram_containment_pairs(df)
    got_c = sorted(map(tuple, capped.collect()))
    got_u = sorted(map(tuple, uncapped.collect()))
    assert got_c == got_u and len(got_c) > 0
    DD.unpersist_intermediates(capped)
    DD.unpersist_intermediates(uncapped)


def test_minhash_recall_sampled_detects_real_misses(spark):
    """The health check must DISCRIMINATE, not just report 1.0: plant
    pairs in the banding's miss zone (J ≈ 0.36-0.45 at the 16×4 s-curve,
    where per-pair candidate probability is only ~0.3-0.6) and assert
    the estimator reports the misses the exact side finds — n_found <
    n_exact, estimate strictly inside (0, 1), interval consistent."""
    rng = random.Random(97)
    vocab = [f"t{i}" for i in range(2000)]
    rows = []
    # 120 planted pairs: docs (2i, 2i+1) share a 36-token RUN (shingles
    # are consecutive n-grams — shared tokens only share shingles when
    # contiguous; and token names must stay alphanumeric — words()
    # splits on '_', which quietly halves the Jaccard) plus 24 unique
    # tokens each: J = 34/82 ≈ 0.41, inside the banding's miss zone at
    # threshold 0.35 (per-pair candidate probability ≈ 0.35 at the
    # 16×4 s-curve).
    for i in range(120):
        shared = rng.sample(vocab, 36)
        a = shared + [f"ua{i}x{j}" for j in range(24)]
        b = shared + [f"ub{i}x{j}" for j in range(24)]
        rows.append((2 * i, " ".join(a)))
        rows.append((2 * i + 1, " ".join(b)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.minhash_recall_sampled(df, threshold=0.35, k=3, sample_frac=1.0)
    row = out.collect()[0]
    DD.unpersist_intermediates(out)
    assert row["n_exact"] > 50          # the exact side sees the planted pairs
    assert row["n_found"] < row["n_exact"]  # the banding genuinely misses some
    assert 0.0 < row["recall_est"] < 1.0
    assert row["ci95_lo"] < row["recall_est"] < row["ci95_hi"] < 1.0


def _roster_rows(df):
    return sorted(
        (r["cluster_id"], r["cluster_size"], tuple(r["members"]))
        for r in df.collect()
    )


def test_incremental_roster_update_matches_full_recompute(spark):
    """The roster-maintenance contract (VERDICT r10 #4): standing rosters
    over the corpus + one ingest batch must compose to EXACTLY the
    from-scratch rosters over the union, across every merge shape —
    batch doc extending a standing family, batch doc BRIDGING a standing
    family and a corpus singleton, a batch-only clone family, and an
    untouched standing family passing through; delta emit must be the
    full set minus untouched."""
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = " ".join(f"bee{i}" for i in range(40))
    fam_e = " ".join(f"eel{i}" for i in range(40))
    fam_c = "red orange yellow green blue indigo violet crimson amber teal"
    solo = "lonely corpus document about glaciers and moraines and old ice"
    corpus_rows = [(i, fam_a) for i in range(3)]            # family A
    corpus_rows += [(10, fam_b), (11, fam_b)]               # family B
    corpus_rows += [(15, fam_e), (16, fam_e)]               # family E
    corpus_rows += [(20, fam_c), (21, fam_c)]               # family C (untouched)
    corpus_rows += [(30, solo)]                             # corpus singleton
    corpus_rows += [(40, "unique corpus filler words nothing shared here")]
    inc_rows = [(100, fam_a)]                               # extends A (exact clone)
    inc_rows += [(102, solo)]                               # absorbs the singleton
    inc_rows += [(110, "batch only clone family text"),     # batch-only family
                 (111, "batch only clone family text")]
    inc_rows += [(120, "novel batch document with fresh content entirely")]
    # 4 near-identical bridges merging standing families B and E: each
    # bridge has J ≈ 0.48 to each family (banding finds each side with
    # p ≈ 0.58, some bridge per side with p ≈ 0.97) while the bridges
    # pair with EACH OTHER at J ≈ 0.95 (guaranteed-grade), so one hit
    # per side merges the whole component — deterministic once pinned
    inc_rows += [(130 + j, fam_b + " " + fam_e + f" glue{j}") for j in range(4)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")
    union = corpus.unionByName(inc)

    full = DD.minhash_groups_collapsed(union, threshold=0.35, k=3)
    expected = _roster_rows(full)
    DD.unpersist_intermediates(full)

    standing = DD.minhash_groups_collapsed(corpus, threshold=0.35, k=3).persist()
    upd = DD.incremental_roster_update(
        corpus, inc, standing, threshold=0.35, k=3, emit="full"
    )
    got = _roster_rows(upd)
    DD.unpersist_intermediates(upd)
    assert got == expected
    # the planted shapes actually happened: A extended by 100, families
    # B and E merged through the bridge pack, the singleton absorbed its
    # clone, the batch-only family exists, C passed through untouched
    by_label = {c: m for c, _, m in got}
    assert 100 in by_label[0]
    assert {10, 11, 15, 16, 130, 131, 132, 133} <= set(by_label[10])
    assert by_label[30] == (30, 102)
    assert by_label[110] == (110, 111)
    assert by_label[20] == (20, 21)

    delta = DD.incremental_roster_update(
        corpus, inc, standing, threshold=0.35, k=3, emit="delta"
    )
    got_delta = _roster_rows(delta)
    DD.unpersist_intermediates(delta)
    untouched = {(20, 2, (20, 21))}
    # the B∪E merge RETIRES standing label 15 (absorbed under label 10):
    # the delta carries its tombstone so a pure upsert consumer deletes
    # the stale roster instead of leaving it standing (ADVICE r11)
    assert got_delta == sorted((set(expected) - untouched) | {(15, 0, ())})
    # and the upsert replay reproduces emit="full" exactly: delete every
    # delta cluster_id from standing, insert the cluster_size >= 2 rows
    standing_rows = set(_roster_rows(standing))
    delta_ids = {c for c, _, _ in got_delta}
    upserted = {r for r in standing_rows if r[0] not in delta_ids} | {
        r for r in got_delta if r[1] >= 2
    }
    assert sorted(upserted) == expected
    standing.unpersist()


def test_incremental_roster_refresh_equals_serial_composition(spark):
    """The refresh composition (one shared corpus staging feeding both
    the standing build and the probe) must equal the plain
    standing-then-update composition row-for-row under both emit modes,
    and the pair budget must refuse identically."""
    fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, fam) for i in range(4)]
    rows += [(10, "unique corpus text one about rivers and deltas flowing"),
             (11, "unique corpus text two about mountains and valleys high")]
    rows += [(20, fam), (21, "novel batch doc entirely fresh words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 20)
    inc = df.filter(F.col("doc_id") >= 20)

    for emit in ("full", "delta"):
        standing = DD.minhash_groups_collapsed(
            corpus, threshold=0.35, k=3
        ).persist()
        serial = DD.incremental_roster_update(
            corpus, inc, standing, threshold=0.35, k=3, emit=emit
        )
        want = _roster_rows(serial)
        DD.unpersist_intermediates(serial)
        standing.unpersist()
        refreshed = DD.incremental_roster_refresh(
            corpus, inc, threshold=0.35, k=3, emit=emit
        )
        got = _roster_rows(refreshed)
        DD.unpersist_intermediates(refreshed)
        assert got == want, emit

    # the two-stage pair budget rides through (refusal, not a launch)
    import pytest as _pytest

    hot = [(i, fam) for i in range(60)]
    hot_corpus = spark.createDataFrame(hot, "doc_id long, text string")
    hot_inc = spark.createDataFrame(
        [(100 + i, fam) for i in range(60)], "doc_id long, text string"
    )
    with _pytest.raises(DD.PairOutputBudgetExceeded):
        DD.incremental_roster_refresh(
            hot_corpus, hot_inc, threshold=0.35, k=3, max_pairs=100
        )


def test_incremental_roster_update_iterates_across_ingests(spark):
    """The production loop: rosters updated by ingest #1 are the valid
    standing state for ingest #2 (corpus grows by the merged batch), and
    two chained updates must equal the from-scratch rosters over
    corpus ∪ b1 ∪ b2 — including a family created by b1 and EXTENDED by
    b2, and a b2 doc merging into a b1-touched family."""
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new_fam = "first seen in batch one text with recurring tokens here"
    corpus = spark.createDataFrame(
        [(0, fam_a), (1, fam_a), (10, "unique corpus doc number ten words")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(100, new_fam), (101, new_fam), (102, fam_a)],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(200, new_fam), (201, "novel second batch doc nothing shared")],
        "doc_id long, text string",
    )
    standing0 = DD.minhash_groups_collapsed(corpus, threshold=0.35, k=3).persist()
    r1 = DD.incremental_roster_update(
        corpus, b1, standing0, threshold=0.35, k=3, emit="full"
    ).persist()
    corpus1 = corpus.unionByName(b1)
    r2 = DD.incremental_roster_update(
        corpus1, b2, r1, threshold=0.35, k=3, emit="full"
    )
    scratch = DD.minhash_groups_collapsed(
        corpus1.unionByName(b2), threshold=0.35, k=3
    )
    got, expected = _roster_rows(r2), _roster_rows(scratch)
    DD.unpersist_intermediates(r2)
    DD.unpersist_intermediates(scratch)
    assert got == expected
    by_label = {c: m for c, _, m in got}
    assert by_label[0] == (0, 1, 102)          # b1 extended the corpus family
    assert by_label[100] == (100, 101, 200)    # b1-created family extended by b2
    DD.unpersist_intermediates(r1)
    r1.unpersist()
    DD.unpersist_intermediates(standing0)
    standing0.unpersist()


def test_embedding_roster_update_matches_full_recompute(spark):
    """The embedding roster-maintenance twin: standing rosters + one
    ingest batch compose to EXACTLY the from-scratch embedding rosters
    over the union, across the merge shapes — a ×4 twin extending a
    standing {v, 2v} family, a bisector vector BRIDGING two standing
    families (pairwise cos 0.9747 to each side of a cos-0.90 family
    pair that standing kept separate), a batch-only identical pair, a
    zero-norm batch vector contributing nothing — and delta emit is the
    full set minus untouched."""
    rng = random.Random(41)
    v = _unit_vec(rng)
    # w at cos 0.90 to v: two standing families BELOW threshold apart
    u = _unit_vec(rng)
    d = sum(a * b for a, b in zip(u, v))
    perp_raw = [ui - d * vi for ui, vi in zip(u, v)]
    pn = math.sqrt(sum(x * x for x in perp_raw))
    perp = [x / pn for x in perp_raw]
    c, s = 0.90, math.sqrt(1 - 0.90 * 0.90)
    w = [c * vi + s * pi for vi, pi in zip(v, perp)]
    bridge_raw = [vi + wi for vi, wi in zip(v, w)]
    bn = math.sqrt(sum(x * x for x in bridge_raw))
    bridge = [x / bn for x in bridge_raw]  # cos 0.9747 to both v and w
    far = _unit_vec(rng)
    corpus_rows = [
        (0, v), (1, [2.0 * x for x in v]),      # standing family A (×2 twin)
        (10, w), (11, w),                        # standing family B (clones)
        (20, far),                               # corpus singleton
    ]
    inc_rows = [
        (100, [4.0 * x for x in v]),             # extends A (×4: shared keys)
        (101, bridge),                           # merges A and B
        (110, far), (111, far),                  # absorbs singleton 20
        (120, [0.0] * 32),                       # zero-norm: contributes nothing
    ]
    mk = lambda rows: spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in rows],
        "vec_id long, embedding array<float>",
    )
    corpus, inc = mk(corpus_rows), mk(inc_rows)
    full = DD.embedding_near_dup_groups(corpus.unionByName(inc), threshold=0.95)
    expected = _roster_rows(full)
    DD.unpersist_intermediates(full)

    standing = DD.embedding_near_dup_groups(corpus, threshold=0.95).persist()
    upd = DD.embedding_roster_update(corpus, inc, standing, threshold=0.95)
    got = _roster_rows(upd)
    DD.unpersist_intermediates(upd)
    assert got == expected
    by_label = {cid: m for cid, _, m in got}
    assert {0, 1, 10, 11, 100, 101} <= set(by_label[0])  # A∪B merged via bridge
    assert by_label[20] == (20, 110, 111)                # singleton absorbed
    assert all(120 not in m for m in by_label.values())  # zero-norm never rosters

    delta = DD.embedding_roster_update(
        corpus, inc, standing, threshold=0.95, emit="delta"
    )
    got_delta = _roster_rows(delta)
    DD.unpersist_intermediates(delta)
    # every family was touched; the A∪B bridge merge retires standing
    # label 10, whose tombstone rides the delta (ADVICE r11)
    assert got_delta == sorted(set(expected) | {(10, 0, ())})
    standing.unpersist()
    with pytest.raises(ValueError, match="emit"):
        DD.embedding_roster_update(
            corpus, inc, standing, threshold=0.95, emit="upsert"
        )


def test_incremental_roster_update_empty_batch_and_validation(spark):
    """An empty ingest returns the standing rosters unchanged (full) /
    nothing (delta); an unknown emit mode is a loud ValueError."""
    fam = "shared family text with many common tokens across docs"
    corpus = spark.createDataFrame(
        [(1, fam), (2, fam), (3, "other unique corpus text entirely")],
        "doc_id long, text string",
    )
    inc = corpus.filter(F.lit(False))
    standing = DD.minhash_groups_collapsed(corpus, threshold=0.35, k=3).persist()
    upd = DD.incremental_roster_update(corpus, inc, standing, threshold=0.35, k=3)
    assert _roster_rows(upd) == _roster_rows(standing)
    DD.unpersist_intermediates(upd)
    delta = DD.incremental_roster_update(
        corpus, inc, standing, threshold=0.35, k=3, emit="delta"
    )
    assert delta.count() == 0
    DD.unpersist_intermediates(delta)
    with pytest.raises(ValueError, match="emit"):
        DD.incremental_roster_update(
            corpus, inc, standing, threshold=0.35, k=3, emit="upsert"
        )
    standing.unpersist()


def test_incremental_roster_update_guard_forwards(spark):
    """max_pairs forwards into both pair stages: a hot batch-internal
    clone family refuses through the collapsed batch guard without
    leaking the probe side's persisted staging."""
    corpus = spark.createDataFrame(
        [(i, f"unique corpus doc {i} words") for i in range(5)],
        "doc_id long, text string",
    )
    hot = [(1000 + i, "the same hot batch clone text everywhere") for i in range(200)]
    inc = spark.createDataFrame(hot, "doc_id long, text string")
    standing = DD.minhash_groups_collapsed(corpus, threshold=0.5, k=3)
    spark.catalog.clearCache()
    with pytest.raises(DD.PairOutputBudgetExceeded):
        DD.incremental_roster_update(
            corpus, inc, standing, threshold=0.5, k=3, max_pairs=1000
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_embedding_recall_sampled_planted(spark):
    """Embedding sampled recall on a ×2-twin corpus: every true pair is
    a guaranteed-banding pair (power-of-two scaling preserves every sign
    key exactly), so the estimate is exactly 1.0 and n_exact must equal
    the INDEPENDENTLY-computed count of stratum-internal twin pairs —
    the restriction to the md5 vec_id stratum is exact."""
    import hashlib

    rng = random.Random(11)
    base = [(i, _unit_vec(rng)) for i in range(60)]
    rows = base + [(1000 + i, [2.0 * x for x in v]) for i, v in base]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    frac = 0.5
    hi = DD.stratum_hex_hi(frac)

    def in_stratum(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:4] <= hi

    expected = sum(1 for i in range(60) if in_stratum(i) and in_stratum(1000 + i))
    out = DD.embedding_recall_sampled(df, threshold=0.95, sample_frac=frac)
    row = out.collect()[0]
    DD.unpersist_intermediates(out)
    assert row["n_exact"] == expected > 0
    assert row["n_found"] == row["n_lsh"] == row["n_exact"]
    assert row["recall_est"] == 1.0
    assert row["ci95_lo"] < 1.0 and abs(row["ci95_hi"] - 1.0) < 1e-12


def test_embedding_recall_sampled_empty_stratum(spark):
    """A pair-free stratum reports NULL estimate and bounds — the same
    pinned-NULL discipline as the text twin."""
    rng = random.Random(13)
    rows = [(i, _unit_vec(rng)) for i in range(30)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = DD.embedding_recall_sampled(df, threshold=0.95, sample_frac=0.5)
    row = out.collect()[0]
    DD.unpersist_intermediates(out)
    assert row["n_exact"] == 0
    assert row["recall_est"] is None
    assert row["ci95_lo"] is None and row["ci95_hi"] is None


def test_embedding_recall_sampled_detects_real_misses(spark):
    """The health check must DISCRIMINATE: plant pairs at cosine ≈ 0.96
    and cramp the geometry to ONE 16-bit band, where per-pair candidate
    probability is (1 - θ/π)^16 ≈ 0.22 — the estimator must report the
    misses the exact side finds (n_found < n_exact, estimate strictly
    inside (0, 1), Wilson interval consistent and below 1)."""
    rng = random.Random(29)
    rows = []
    c = 0.96
    s = math.sqrt(1 - c * c)
    for i in range(100):
        v = _unit_vec(rng)
        u = _unit_vec(rng)
        d = sum(a * b for a, b in zip(u, v))
        w_raw = [ui - d * vi for ui, vi in zip(u, v)]
        wn = math.sqrt(sum(x * x for x in w_raw))
        w = [c * vi + s * (wi / wn) for vi, wi in zip(v, w_raw)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, w))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = DD.embedding_recall_sampled(
        df, threshold=0.95, sample_frac=1.0, n_bands=1, band_bits=16
    )
    row = out.collect()[0]
    DD.unpersist_intermediates(out)
    assert row["n_exact"] >= 100        # every planted pair is exact-visible
    assert row["n_found"] < row["n_exact"]  # the cramped banding misses some
    assert 0.0 < row["recall_est"] < 1.0
    assert row["ci95_lo"] < row["recall_est"] < row["ci95_hi"] < 1.0


def test_incremental_probe_cross_guard(spark):
    """Cross-set guard on the text probe: a hot text present 50× in the
    batch and 200× in the corpus implies exactly 10,000 cross pair rows
    — stage-1 refuses at a 1,000 cap; under a permissive cap the full
    a·b set comes through; a batch of only NOVEL texts passes the same
    cap untouched."""
    hot = "the same hot document text shared across batch and corpus"
    corpus = spark.createDataFrame(
        [(i, hot) for i in range(200)]
        + [(500 + i, f"corpus only document number {i} here") for i in range(10)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000 + i, hot) for i in range(50)], "doc_id long, text string"
    )
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.incremental_probe_pairs(corpus, batch, max_pairs=1_000)
    msg = str(ei.value)
    assert "10,000" in msg and "exact-dedup the batch" in msg
    ok = DD.incremental_probe_pairs(corpus, batch, max_pairs=100_000)
    assert ok.count() == 10_000
    DD.unpersist_intermediates(ok)
    novel = spark.createDataFrame(
        [(2000 + i, f"novel batch document number {i} words") for i in range(20)],
        "doc_id long, text string",
    )
    ok2 = DD.incremental_probe_pairs(corpus, novel, max_pairs=1_000)
    assert ok2.count() == 0
    DD.unpersist_intermediates(ok2)


def test_embedding_incremental_probe_cross_guard(spark):
    """Cross-set guard on the embedding probe: identical-vector stage-1
    (a·b arithmetic) and jittered stage-2 (band collisions) both refuse;
    pass-through under cap is the full cross set."""
    rng = random.Random(53)
    base = _unit_vec(rng)
    mk = lambda rows: spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    corpus = mk([(i, base) for i in range(200)]
                + [(500 + j, _unit_vec(rng)) for j in range(10)])
    batch = mk([(1000 + i, base) for i in range(50)])
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei:
        DD.embedding_incremental_probe_pairs(corpus, batch, max_pairs=1_000)
    assert "10,000" in str(ei.value)
    # jittered: distinct bytes, same direction — stage-1 prices 0,
    # stage-2 sees the shared band buckets
    jbatch_rows = []
    for i in range(50):
        v = list(base)
        v[i % 32] += 1e-7 * (i + 1)
        jbatch_rows.append((1000 + i, v))
    with pytest.raises(DD.PairOutputBudgetExceeded) as ei2:
        DD.embedding_incremental_probe_pairs(corpus, mk(jbatch_rows), max_pairs=1_000)
    assert "candidate" in str(ei2.value)
    ok = DD.embedding_incremental_probe_pairs(corpus, batch, max_pairs=100_000)
    assert ok.count() == 10_000
    DD.unpersist_intermediates(ok)


def test_embedding_probe_corpus_staged(spark):
    """Round 12: the caller-owned staged corpus sign-key index — the
    staged probe returns exactly the unstaged result at the same
    geometry, the staged cache survives the probe's cleanup AND its
    guard refusal (caller-owns contract), and passing a staged index
    without explicit geometry is a loud ValueError on both the probe
    and the roster update (a count-resolved geometry could silently
    diverge from the staged keys')."""
    import random as _random

    rng = _random.Random(7)
    vecs = [[rng.uniform(-1.0, 1.0) for _ in range(16)] for _ in range(6)]
    mk = lambda rows: spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    corpus = mk(list(enumerate(vecs)))
    batch = mk([(100 + i, [2.0 * x for x in v]) for i, v in enumerate(vecs[:3])])

    staged = DD.stage_corpus_sign_keys(corpus, n_bands=8, band_bits=8)
    got_df = DD.embedding_incremental_probe_pairs(
        corpus, batch, threshold=0.95, n_bands=8, band_bits=8,
        corpus_staged=staged,
    )
    got = sorted((r["inc_id"], r["corpus_id"]) for r in got_df.collect())
    DD.unpersist_intermediates(got_df)
    assert staged.is_cached  # cleanup never touches the caller's cache
    ref_df = DD.embedding_incremental_probe_pairs(
        corpus, batch, threshold=0.95, n_bands=8, band_bits=8
    )
    ref = sorted((r["inc_id"], r["corpus_id"]) for r in ref_df.collect())
    DD.unpersist_intermediates(ref_df)
    assert got == ref == [(100, 0), (101, 1), (102, 2)]

    # guard refusal must not unpersist the caller's staged index either
    hot = mk([(i, vecs[0]) for i in range(50)])
    hot_staged = DD.stage_corpus_sign_keys(hot, n_bands=8, band_bits=8)
    with pytest.raises(DD.PairOutputBudgetExceeded):
        DD.embedding_incremental_probe_pairs(
            hot, mk([(1000 + i, vecs[0]) for i in range(50)]),
            n_bands=8, band_bits=8, max_pairs=10, corpus_staged=hot_staged,
        )
    assert hot_staged.is_cached
    hot_staged.unpersist()

    with pytest.raises(ValueError, match="explicit n_bands"):
        DD.embedding_incremental_probe_pairs(
            corpus, batch, corpus_staged=staged
        )
    rosters = DD.embedding_near_dup_groups(
        corpus, threshold=0.95, n_bands=8, band_bits=8
    )
    with pytest.raises(ValueError, match="explicit n_bands"):
        DD.embedding_roster_update(
            corpus, batch, rosters, corpus_staged=staged
        )
    # and WITH geometry the staged roster update matches the unstaged one
    upd_s = DD.embedding_roster_update(
        corpus, batch, rosters, threshold=0.95, n_bands=8, band_bits=8,
        corpus_staged=staged,
    )
    got_rost = _roster_rows(upd_s)
    DD.unpersist_intermediates(upd_s)
    upd_u = DD.embedding_roster_update(
        corpus, batch, rosters, threshold=0.95, n_bands=8, band_bits=8
    )
    assert got_rost == _roster_rows(upd_u)
    DD.unpersist_intermediates(upd_u)
    DD.unpersist_intermediates(rosters)
    staged.unpersist()
