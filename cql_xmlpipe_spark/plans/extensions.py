"""§2D extension queries: dedup, similarity search, text analysis,
multimodal manifest — the training-data-pipeline operators.

Oracle-backed wherever cross-engine determinism is achievable with SQL;
MinHash/SimHash signatures use engine-native xxhash64 so they get
rows-only driver checks plus model-based unit tests in tests/.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cql_xmlpipe_spark.functions import text as TX
from cql_xmlpipe_spark.operators import dedup as DD
from cql_xmlpipe_spark.operators import kmeans as KM
from cql_xmlpipe_spark.operators.similarity import brute_force_topk, lsh_topk
from cql_xmlpipe_spark.plans.queries import DEC, _q, dsum
from cql_xmlpipe_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact",
    """
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY text) AS keep_id,
           COUNT(*) OVER (PARTITION BY text) AS group_size,
           doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(load_table(spark, "documents", sf_dir))


@_q(
    "dedup_exact_hash_groups",
    """
    SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at scale: shuffle 32-byte content hashes, not documents."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


_NGRAM_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(t.sh) AS sh
      FROM (
        SELECT doc_id, lang,
               list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' ')) AS sh
        FROM (
          SELECT doc_id, lang,
                 list_filter(string_split(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
          FROM documents)
      ) t
      WHERE len(t.sh) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
"""


_CONTAINMENT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(t.sh) AS sh
      FROM (
        SELECT doc_id, lang,
               list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' ')) AS sh
        FROM (
          SELECT doc_id, lang,
                 list_filter(string_split(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
          FROM documents)
      ) t
      WHERE len(t.sh) > 0
    )
    SELECT a.doc_id AS src_id, b.doc_id AS tgt_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
             AS containment
    FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(a.sh) >= 5
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.8
"""


@_q("text_ngram_containment", _CONTAINMENT_ORACLE)
def text_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-shingle CONTAINMENT pairs within language blocks:
    ordered (src, tgt) with |S(src)∩S(tgt)|/|S(src)| >= 0.8 and src at
    least 5 shingles long — the quote/boilerplate/subset detector the
    symmetric Jaccard gate misses (a short doc embedded in a long one
    has small Jaccard but containment 1.0). PPJoin prefix filter
    adapted to the asymmetric measure: only SRC prefixes index, TGT
    posts in full (operators/dedup.py::ngram_containment_pairs). The
    12 rows at sf0.01 are the exact-duplicate families seen from both
    directions."""
    return DD.ngram_containment_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.8, k=3, min_shingles=5
    )


@_q("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard pairs within language blocks. Runs
    through the exact-duplicate collapse (identical output — see
    ``operators/dedup.py::ngram_jaccard_pairs_collapsed``), which removed
    the PPJoin's clone-count super-linearity: 14.1 s → 6.4 s at 10× and
    6.3 s at 100× (volume-flat; previously the only super-linear operator
    left, excluded from the century smoke)."""
    return DD.ngram_jaccard_pairs_collapsed(
        load_table(spark, "documents", sf_dir), threshold=0.35, k=3
    )


import os as _os_fx

_MINHASH_FIXTURE = _os_fx.path.join(
    _os_fx.path.dirname(_os_fx.path.dirname(_os_fx.path.dirname(
        _os_fx.path.abspath(__file__)))),
    "tests", "fixtures", "minhash_bands.parquet",
)


def _lsh_band_ctes(threshold: float) -> str:
    """Shared oracle CTE block for the banded-LSH family: ``sh`` (doc_id,
    text_md5, distinct 3-shingle list), ``bk`` (per-doc band keys from the
    pinned fixture, coverage-guarded), ``cand`` (the banded candidate
    join) and ``pairs`` (exact-Jaccard-verified at ``threshold``).

    Banded LSH is probabilistic-recall below J≈0.85, so "equals the
    exact all-pairs set" is only true while the corpus has no pair in
    the miss zone — a property the driver's per-round testdata
    regeneration does not preserve (round 7: an organic J=0.8 pair
    appeared at sf0.1 and tripped the old loud-guard oracles). These
    oracles therefore model the BANDING itself: band keys recomputed
    independently by scripts/make_minhash_fixture.py (clean-room XXH64
    asserted against Spark-captured vectors; cross-checked bit-exact
    against the live operator in tests/test_dedup.py), keyed by
    md5(text) so exact clones share keys — which also makes this join
    equivalent to the engine's exact-duplicate-collapsed formulation.
    Exact for ANY corpus; recall vs the exact pair set is measured by
    the ``dedup_minhash_recall`` gate, not assumed. The coverage guard
    errors loudly (UNION ALL branch, count-bearing message — see the
    simhash oracle for why not a WHERE) if any shingle-bearing text is
    absent from the fixture."""
    return f"""
    sh AS (
      SELECT doc_id, md5(text) AS tm, list_distinct(t.s) AS sh
      FROM (
        SELECT doc_id, text,
               list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(toks[i:i+2], ' ')) AS s
        FROM (
          SELECT doc_id, text,
                 list_filter(string_split(regexp_replace(lower(text),
                        '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
          FROM documents)
      ) t
      WHERE len(t.s) > 0
    ),
    fx_miss AS (
      SELECT COUNT(*) AS n FROM sh
      LEFT JOIN (SELECT DISTINCT text_md5
                 FROM read_parquet('{_MINHASH_FIXTURE}')) f
        ON sh.tm = f.text_md5
      WHERE f.text_md5 IS NULL),
    bk AS (
      SELECT s.doc_id, f.band, f.key
      FROM sh s JOIN read_parquet('{_MINHASH_FIXTURE}') f ON s.tm = f.text_md5
      UNION ALL
      SELECT CAST(error('minhash band fixture missing ' || n || ' documents'
                        || ': rerun scripts/make_minhash_fixture.py')
                  AS BIGINT),
             CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
      FROM fx_miss WHERE n > 0),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
      FROM cand c
      JOIN sh a ON c.id_a = a.doc_id
      JOIN sh b ON c.id_b = b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {threshold})
"""


_MINHASH_ORACLE = f"""
    WITH {_lsh_band_ctes(0.35)}
    SELECT id_a, id_b, jaccard FROM pairs
"""


@_q("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified at J ≥ 0.35.
    The oracle models the 16×4 banding independently (pinned band-key
    fixture from a clean-room XXH64 — see ``_lsh_band_ctes``), so the
    gate is exact for any corpus; recall vs the exact pair set is its
    own gate (``dedup_minhash_recall``), and the exact contract at the
    same threshold is ``dedup_ngram_jaccard`` (PPJoin). Runs through the
    exact-duplicate collapse (identical output, O(distinct-texts) LSH
    cost — see operators/dedup.py::minhash_lsh_pairs_collapsed)."""
    return DD.minhash_lsh_pairs_collapsed(
        load_table(spark, "documents", sf_dir), threshold=0.35
    )


_MINHASH_RECALL_ORACLE = f"""
    WITH {_lsh_band_ctes(0.35)},
    exact_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.35)
    SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
           (SELECT COUNT(*) FROM pairs) AS n_lsh,
           (SELECT COUNT(*) FROM pairs p JOIN exact_pairs e
              ON p.id_a = e.id_a AND p.id_b = e.id_b) AS n_found,
           CASE WHEN (SELECT COUNT(*) FROM exact_pairs) = 0 THEN NULL
                ELSE CAST((SELECT COUNT(*) FROM pairs p JOIN exact_pairs e
                             ON p.id_a = e.id_a AND p.id_b = e.id_b) AS DOUBLE)
                     / (SELECT COUNT(*) FROM exact_pairs)
           END AS recall
"""


@_q("dedup_minhash_recall", _MINHASH_RECALL_ORACLE)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall, measured not assumed: verified MinHash+LSH pairs vs
    the EXACT pair set at the same contract (J ≥ 0.35, unblocked — the
    exact side reuses the PPJoin prefix-filter verifier under a constant
    block key). One row: (n_exact, n_lsh, n_found, recall). With the
    seeded xxhash64 banding both sides are deterministic, so the value
    itself is oracle-checked: the DuckDB side recomputes the exact pairs
    all-pairs and the LSH pairs from the independent band-key fixture.
    This is the honest companion to the fixture-backed pair gates: they
    pin implementation exactness for any corpus; this pins how far the
    banding sits from ground truth on the corpus under test (misses are
    only possible below J ≈ 0.85, where per-pair recall 1-(1-J⁴)¹⁶
    decays — e.g. ≈ 0.99979 at J = 0.8)."""
    d = load_table(spark, "documents", sf_dir)
    # tokenize the corpus ONCE for both sides and collapse it ONCE — same
    # sharing devices as minhash_recall_sampled: the PPJoin side's block
    # is the constant _blk, so one membership map serves both sides
    with DD.Staging() as st:
        s_sets = st.pin(DD.shingle_hash_sets(d))
        s_mem = st.pin(DD._membership_map(d, "text", "doc_id"))
        lsh_full = st.adopt(DD.minhash_lsh_pairs_collapsed(
            d, threshold=0.35, staged=(s_sets, None), mem=s_mem
        ))
        exact_full = st.adopt(DD.ngram_jaccard_pairs_collapsed(
            d.withColumn("_blk", F.lit(1)), block_col="_blk", threshold=0.35, k=3,
            hash_sets=s_sets, mem=s_mem,
        ))
        # pin the pair sets: each is referenced twice below (own count AND
        # the intersection), and un-pinned the candidate+verify subtree
        # behind each would execute twice per action (same device as
        # _recall_wilson_row)
        lsh = st.pin(lsh_full.select("id_a", "id_b"))
        exact = st.pin(exact_full.select("id_a", "id_b"))
        n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
        n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
        n_found = (
            lsh.join(exact, ["id_a", "id_b"])
            .agg(F.count(F.lit(1)).alias("n_found"))
        )
        result = (
            n_exact.crossJoin(F.broadcast(n_lsh))
            .crossJoin(F.broadcast(n_found))
            # NULL (not 0/0's engine-dependent NULL/NaN/inf) on a pair-free
            # corpus: pinned on BOTH sides so the gate reports "trivially no
            # pairs" instead of a cross-engine division-semantics mismatch
            .withColumn(
                "recall",
                F.when(F.col("n_exact") > 0, F.col("n_found") / F.col("n_exact")),
            )
        )
        # the shared staging and both collapsed pipelines' pins ride the
        # result — a long-lived session (CLI/library use) must not depend on
        # the bench harness's clearCache to release the full-corpus projections
        return st.own(result)


#: the Wilson-interval SELECT body shared by the text and embedding
#: sampled-recall oracles — expects a ``counts`` CTE exposing n_exact,
#: n_lsh, n_found; written in the same literal/op order as the Spark
#: side's _recall_wilson_row (CAST(1.96 AS DOUBLE) — a bare 1.96 is
#: DECIMAL in DuckDB and would round differently)
_WILSON_SELECT_SQL = """n_exact, n_lsh, n_found,
      CASE WHEN n_exact > 0
           THEN CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE) END
        AS recall_est,
      CASE WHEN n_exact > 0 THEN
        (CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE)
           + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
             / (CAST(2.0 AS DOUBLE) * CAST(n_exact AS DOUBLE)))
        / (CAST(1.0 AS DOUBLE) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
             / CAST(n_exact AS DOUBLE))
        - CAST(1.96 AS DOUBLE)
          * sqrt((CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE))
                   * (CAST(1.0 AS DOUBLE)
                      - CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE))
                   / CAST(n_exact AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                   / (CAST(4.0 AS DOUBLE) * CAST(n_exact AS DOUBLE)
                      * CAST(n_exact AS DOUBLE)))
          / (CAST(1.0 AS DOUBLE)
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
               / CAST(n_exact AS DOUBLE))
      END AS ci95_lo,
      CASE WHEN n_exact > 0 THEN
        (CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE)
           + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
             / (CAST(2.0 AS DOUBLE) * CAST(n_exact AS DOUBLE)))
        / (CAST(1.0 AS DOUBLE) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
             / CAST(n_exact AS DOUBLE))
        + CAST(1.96 AS DOUBLE)
          * sqrt((CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE))
                   * (CAST(1.0 AS DOUBLE)
                      - CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE))
                   / CAST(n_exact AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                   / (CAST(4.0 AS DOUBLE) * CAST(n_exact AS DOUBLE)
                      * CAST(n_exact AS DOUBLE)))
          / (CAST(1.0 AS DOUBLE)
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
               / CAST(n_exact AS DOUBLE))
      END AS ci95_hi"""


def _sampled_recall_oracle(threshold: float, hex_hi: str) -> str:
    """Oracle for ``dedup_minhash_recall_sampled``: the exact-gate oracle
    restricted to the md5 doc stratum, plus the shared Wilson interval
    block (``_WILSON_SELECT_SQL``)."""
    return f"""
    WITH documents AS (
      -- shadows the registered view: main.documents is the view itself,
      -- so every CTE in _lsh_band_ctes below sees only the stratum
      SELECT * FROM main.documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <= '{hex_hi}'),
    {_lsh_band_ctes(threshold)},
    exact_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= {threshold}),
    counts AS (
      SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
             (SELECT COUNT(*) FROM pairs) AS n_lsh,
             (SELECT COUNT(*) FROM pairs p JOIN exact_pairs e
                ON p.id_a = e.id_a AND p.id_b = e.id_b) AS n_found)
    SELECT {_WILSON_SELECT_SQL}
    FROM counts
"""


#: gate registration uses a 50% stratum ('7fff' = 32768/65536): the
#: sf0.01 corpus has 25 exact J≥0.35 pairs of which 3 are stratum-
#: internal at 50% — non-trivial at gate scale — while the production
#: default (sample_frac=0.01) is exercised at the jittered decades in
#: SCALE.md, where the 10⁻⁴ exact-bill scaling is the point.
_GATE_SAMPLE_FRAC = 0.5


@_q(
    "dedup_minhash_recall_sampled",
    # hex bound derived from the SAME frac→hex arithmetic the Spark-side
    # Column uses (stratum_hex_hi) — the two sides cannot desynchronize
    _sampled_recall_oracle(0.35, DD.stratum_hex_hi(_GATE_SAMPLE_FRAC)),
)
def dedup_minhash_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED LSH-recall estimate over a deterministic md5 doc stratum —
    the per-ingest health check whose exact twin (``dedup_minhash_recall``)
    costs an all-pairs PPJoin (4,485 s of exact-side work at jitter-100×,
    SCALE.md). Both sides restrict to the stratum (exactly — pair
    properties are pairwise, so LSH-over-stratum ≡ full LSH restricted
    to stratum-internal pairs), the estimator is unbiased (stratum
    hashes ids, never content), and the output row carries a Wilson 95%
    interval. The oracle recomputes counts AND the interval arithmetic
    from the pinned band-key fixture over the same stratum."""
    return DD.minhash_recall_sampled(
        load_table(spark, "documents", sf_dir),
        threshold=0.35, k=3, sample_frac=_GATE_SAMPLE_FRAC,
    )


@_q(
    "dedup_paragraphs",
    r"""
    WITH p AS (
      SELECT doc_id, trim(para) AS para
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(text, '\n{2,}')) AS para
            FROM documents)
      WHERE len(trim(para)) >= 1),
    h AS (SELECT doc_id, sha256(para) AS ph FROM p),
    d AS (SELECT ph FROM h GROUP BY ph HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT h.doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN d.ph IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_paras,
           CAST(SUM(CASE WHEN d.ph IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_fraction
    FROM h LEFT JOIN d ON h.ph = d.ph
    GROUP BY h.doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup: per-doc fraction of paragraphs whose
    hash appears in ≥ 2 distinct documents. On this corpus documents are
    single-line, so every doc is one paragraph and the fraction collapses
    to exact-duplicate membership — the full pipeline (split → explode →
    hash-group → join-back → fraction) still executes; multi-paragraph
    splitting is covered by the planted corpus in tests/test_dedup.py."""
    return DD.paragraph_dup_stats(load_table(spark, "documents", sf_dir))


import os as _os

_SIMHASH_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "simhash_documents.parquet",
)

#: SimHash oracle via pinned fixture: signatures recomputed by the
#: clean-room pure-Python XXH64 in scripts/make_simhash_fixture.py (an
#: independent implementation, itself asserted against Spark-captured
#: vectors), keyed by md5(text) so one fixture serves every sf it was
#: generated over (sf0.001 + sf0.01 + sf0.1). The ``guard`` branch emits
#: an error()-ing row iff any document md5 is absent from the fixture —
#: a UNION ALL branch, not a WHERE filter, because a WHERE-clause guard
#: on an inner-join CTE never evaluates when drift empties the join
#: (exactly the silent-0-pairs failure this guard exists to prevent).
#: The error message carries the miss count so it is not constant-
#: foldable at plan time. The Manku 6-block/3-clean banding in the
#: operator is EXACT for Hamming ≤ 3 (pigeonhole), so the Spark output
#: must equal the plain all-pairs self-join below.
_SIMHASH_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_SIMHASH_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL),
    s AS (
      SELECT d.doc_id, f.simhash
      FROM documents d
      JOIN read_parquet('{_SIMHASH_FIXTURE}') f ON md5(d.text) = f.text_md5
      UNION ALL
      SELECT CAST(error('simhash fixture missing ' || n ||
                        ' documents: rerun scripts/make_simhash_fixture.py')
                  AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS simhash
      FROM miss WHERE n > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@_q("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3. Oracle-backed
    since round 5 via the pinned signature fixture (independent XXH64
    reimplementation); banded candidate generation is pigeonhole-exact at
    this radius, so the output is the full Hamming-≤3 pair set."""
    return DD.simhash_near_pairs(load_table(spark, "documents", sf_dir), max_hamming=3)


_EMB_COSINE_ORACLE = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                 (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM p WHERE cos >= 0.95
"""


@_q("dedup_embedding_cosine", _EMB_COSINE_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.95 via banded sign-LSH with
    exact-cosine verification. The oracle is the exact all-pairs cosine
    join; on this corpus it returns ZERO pairs at 0.95, so what the gate
    checks on real data is the no-false-positives side (the verify step
    must discard every LSH candidate). Planted-duplicate recall is
    covered by tests/test_dedup.py::test_embedding_near_dup_recovers_planted."""
    return DD.embedding_near_dup_pairs(
        load_table(spark, "embeddings", sf_dir), threshold=0.95
    )


#: roster oracle for the embedding family: exact all-pairs cosine graph
#: (norm > 0 pinned on BOTH sides — zero-norm vectors have NaN cosine,
#: and both engines order NaN ABOVE every number, so an unguarded
#: `cos >= t` would emit directionless "pairs"; the operator pins
#: NOT isnan, the oracle pins nrm > 0 — same exclusion), closed into
#: components by the same recursive-CTE fixpoint as the text rosters.
#: Exactness caveat matches dedup_embedding_cosine: banding recall < 1
#: below saturation, but this corpus has zero sub-1.0 pairs at 0.95, so
#: the gate checks the no-false-positives side plus the whole collapse→
#: LSH→CC→roster machinery; planted-family recall is pytest-pinned.
_EMB_GROUPS_ORACLE = """
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95),
    edges AS (
      SELECT id_a AS v, id_b AS w FROM p
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM p),
    reach AS (
      SELECT vec_id AS v, vec_id AS r FROM e WHERE nrm > 0
      UNION
      SELECT ed.w AS v, reach.r AS r FROM reach JOIN edges ed ON reach.v = ed.v),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           list(v ORDER BY v) AS members
    FROM lab GROUP BY cluster_id HAVING COUNT(*) >= 2
"""


@_q("dedup_embedding_groups", _EMB_GROUPS_ORACLE)
def dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTER ROSTERS — the linear-output contract
    the embedding pair guard's refusal message names (round 10; closes
    the r9 asymmetry where the text family had a registered roster and
    the embedding family only a recipe). Collapse identical vectors by a
    128-bit hash family key, banded sign-LSH + exact cosine verify over
    representatives only, connected components, one row per multi-vector
    family. Skew-100× hot family: one roster row with a 50k-member
    array where the pair contract refuses pricing 1.25B rows
    (operators/dedup.py::embedding_near_dup_groups, SCALE.md)."""
    return DD.embedding_near_dup_groups(
        load_table(spark, "embeddings", sf_dir), threshold=0.95
    )


#: exact cross-set cosine oracle for the embedding incremental probe:
#: same vec_id % 5 split as the text twin, same norm > 0 pinning as the
#: other embedding oracles. On this corpus there are no cross-set pairs
#: at 0.95, so the gate checks the no-false-positives side plus the
#: asymmetric banding/verify machinery; planted recovery is pytest-pinned
#: (test_embedding_incremental_probe_planted).
_EMB_INCREMENTAL_ORACLE = """
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL)
    SELECT a.vec_id AS inc_id, b.vec_id AS corpus_id,
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
    FROM e a JOIN e b ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
    WHERE a.nrm > 0 AND b.nrm > 0
      AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95
"""


@_q("dedup_embedding_incremental", _EMB_INCREMENTAL_ORACLE)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding incremental-ingest dedup, gate-visible: vectors split
    into an existing corpus (vec_id % 5 != 0) and a new batch (vec_id %
    5 == 0); the operator finds every cosine-≥0.95 near-dup the BATCH
    has against the CORPUS through an asymmetric banded sign-LSH probe
    join — no corpus×corpus or batch×batch candidates
    (operators/dedup.py::embedding_incremental_probe_pairs)."""
    e = load_table(spark, "embeddings", sf_dir)
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    increment = e.filter(F.col("vec_id") % 5 == 0)
    return DD.embedding_incremental_probe_pairs(corpus, increment, threshold=0.95)


# ---------------------------------------------------------------------------
# planted-positive embedding gates (round 11): the natural corpus has ZERO
# cosine-≥0.95 pairs, so the three gates above pass with 0 rows and the
# oracle only ever pins the no-false-positive side at gate scale. These
# variants derive a PLANTED corpus inside the query — embeddings ∪ a twin
# of every vector scaled by exactly 2.0 under a shifted id — so the oracle
# pins non-empty verified pairs, rosters and cross-probe rows, values
# included. Why ×2 and not a ±1-ulp jitter: scaling by a power of two is
# EXACT in IEEE-754 (a bare exponent shift) and commutes with ANY
# summation order, so the twin is (a) a distinct byte pattern — it does
# NOT collapse into its original under the 128-bit identical-vector hash,
# forcing the real LSH+verify path — yet (b) lands in exactly the same
# sign bucket in every band (each plane dot is exactly doubled, sign
# unchanged), making planted recall 1.0 BY CONSTRUCTION at any geometry:
# the gate stays deterministic under auto-geometry re-solves, where a
# jittered twin would expose the <1% banding miss budget as flakiness.
# ---------------------------------------------------------------------------

#: twin id offset — far above any gate corpus id, so originals and twins
#: never collide and every planted pair orders (original, twin)
_PLANT_OFFSET = 1_000_000

#: the planted union, as a CTE named eu — the oracle-side mirror of
#: :func:`_planted_embeddings` (CAST(x AS DOUBLE) * CAST(2.0 AS DOUBLE)
#: back to FLOAT is bit-exact on both engines)
_EMB_PLANT_CTE = f"""
    eu AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET} AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(2.0 AS DOUBLE) AS FLOAT))
               AS embedding
      FROM embeddings)
"""


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ exact-×2 twins under shifted ids — the Spark-side
    half of ``_EMB_PLANT_CTE`` (same doubling arithmetic, same offset)."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    twin = e.select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    return e.unionByName(twin)


_EMB_COSINE_PLANTED_ORACLE = f"""
    WITH {_EMB_PLANT_CTE},
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu WHERE embedding IS NOT NULL)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE a.nrm > 0 AND b.nrm > 0
      AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95
"""


@_q("dedup_embedding_cosine_planted", _EMB_COSINE_PLANTED_ORACLE)
def dedup_embedding_cosine_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_embedding_cosine`` with a POSITIVE pair set the oracle
    pins row-for-row (VERDICT r10 #1): every original pairs with its ×2
    twin at an exactly-computed cosine ≈ 1.0, through the full banded
    sign-LSH + exact-verify path (twins are distinct byte patterns — no
    hash collapse shortcut). The all-pairs oracle recomputes the same
    doubles, so ``hash_match`` finally exercises non-empty (id_a, id_b,
    cos) rows at gate scale."""
    return DD.embedding_near_dup_pairs(_planted_embeddings(spark, sf_dir), threshold=0.95)


_EMB_GROUPS_PLANTED_ORACLE = f"""
    WITH RECURSIVE {_EMB_PLANT_CTE},
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu WHERE embedding IS NOT NULL),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95),
    edges AS (
      SELECT id_a AS v, id_b AS w FROM p
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM p),
    reach AS (
      SELECT vec_id AS v, vec_id AS r FROM e WHERE nrm > 0
      UNION
      SELECT ed.w AS v, reach.r AS r FROM reach JOIN edges ed ON reach.v = ed.v),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           list(v ORDER BY v) AS members
    FROM lab GROUP BY cluster_id HAVING COUNT(*) >= 2
"""


@_q("dedup_embedding_groups_planted", _EMB_GROUPS_PLANTED_ORACLE)
def dedup_embedding_groups_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_embedding_groups`` over the planted corpus: the oracle's
    recursive-CTE fixpoint pins NON-EMPTY rosters — one {v, v+offset}
    family per original vector (merged further wherever originals are
    themselves near-dups) — so the collapse→LSH→CC→roster machinery is
    value-checked on a positive path at gate scale, not only in pytest."""
    return DD.embedding_near_dup_groups(_planted_embeddings(spark, sf_dir), threshold=0.95)


_EMB_INCREMENTAL_PLANTED_ORACLE = f"""
    WITH {_EMB_PLANT_CTE},
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu WHERE embedding IS NOT NULL)
    SELECT a.vec_id AS inc_id, b.vec_id AS corpus_id,
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
    FROM e a JOIN e b
      ON a.vec_id >= {_PLANT_OFFSET} AND b.vec_id < {_PLANT_OFFSET}
    WHERE a.nrm > 0 AND b.nrm > 0
      AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95
"""


@_q("dedup_embedding_incremental_planted", _EMB_INCREMENTAL_PLANTED_ORACLE)
def dedup_embedding_incremental_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_embedding_incremental`` with a planted positive path: the
    standing corpus is the original embeddings, the new batch is the ×2
    twins — every batch vector cross-pairs with exactly its original
    through the asymmetric probe join (shared geometry resolved from the
    corpus side), and the exact cross-set oracle pins every (inc_id,
    corpus_id, cos) row."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    twin = e.select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    return DD.embedding_incremental_probe_pairs(e, twin, threshold=0.95)


_EMB_INCREMENTAL_SUBSET_ORACLE = f"""
    WITH eu AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET} AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(2.0 AS DOUBLE) AS FLOAT))
               AS embedding
      FROM embeddings WHERE vec_id % 5 = 1),
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu WHERE embedding IS NOT NULL)
    SELECT a.vec_id AS inc_id, b.vec_id AS corpus_id,
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
    FROM e a JOIN e b
      ON a.vec_id >= {_PLANT_OFFSET} AND b.vec_id < {_PLANT_OFFSET}
    WHERE a.nrm > 0 AND b.nrm > 0
      AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95
"""


@_q("dedup_embedding_incremental_subset_planted", _EMB_INCREMENTAL_SUBSET_ORACLE)
def dedup_embedding_incremental_subset_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_embedding_incremental`` on its own NATURAL corpus split
    with a positive path (VERDICT r11 #5): the standing corpus is the
    natural ``vec_id % 5 != 0`` side — exactly the split the natural
    gate documents, which has zero organic cosine-0.95 cross pairs —
    and the ingest batch is derived in-query as the exact-×2 twins of
    the ``% 5 == 1`` corpus SUBSET under shifted ids. Every batch
    vector therefore cross-pairs with precisely its original inside
    the natural corpus (IEEE-exact scaling: distinct bytes, shared
    sign keys — see ``_planted_embeddings``), so the oracle pins
    non-empty (inc_id, corpus_id, cos) rows through the asymmetric
    probe on the SAME corpus the no-false-positive gate guards, while
    the natural gate keeps its 0-row role."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    increment = e.filter(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    return DD.embedding_incremental_probe_pairs(corpus, increment, threshold=0.95)


#: three-generation planted union for the embedding roster-update gate:
#: originals ∪ exact-×2 twins (the STANDING corpus) ∪ exact-×4 twins
#: (the ingest batch) — all powers of two, so every generation shares
#: every sign key and recall is 1.0 by construction at any geometry
_EMB_PLANT3_CTE = f"""
    eu AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET} AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(2.0 AS DOUBLE) AS FLOAT))
               AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + {2 * _PLANT_OFFSET} AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(4.0 AS DOUBLE) AS FLOAT))
               AS embedding
      FROM embeddings)
"""

_EMB_ROSTER_UPDATE_ORACLE = f"""
    WITH RECURSIVE {_EMB_PLANT3_CTE},
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu WHERE embedding IS NOT NULL),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.95),
    edges AS (
      SELECT id_a AS v, id_b AS w FROM p
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM p),
    reach AS (
      SELECT vec_id AS v, vec_id AS r FROM e WHERE nrm > 0
      UNION
      SELECT ed.w AS v, reach.r AS r FROM reach JOIN edges ed ON reach.v = ed.v),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           list(v ORDER BY v) AS members
    FROM lab GROUP BY cluster_id HAVING COUNT(*) >= 2
"""


@_q("dedup_embedding_incremental_rosters", _EMB_ROSTER_UPDATE_ORACLE)
def dedup_embedding_incremental_rosters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding incremental ROSTER maintenance, gate-visible (round 11
    — the text family's `dedup_incremental_rosters` twin): the standing
    corpus is embeddings ∪ their ×2 twins, whose rosters (one {v, v+off}
    family per vector) are built by `embedding_near_dup_groups`; the
    ingest batch is the ×4 twins, each of which cross-pairs with BOTH
    generations of its family (power-of-two scaling shares every sign
    key). `embedding_roster_update` folds the batch in through the
    shared quotient-graph assembly — every standing roster is TOUCHED
    and expands to a 3-member family — and the oracle recomputes the
    from-scratch recursive-CTE rosters over the three-generation union,
    so the composition (probe + batch pairs + quotient CC + membership
    fan-out) is pinned row-for-row with non-empty merged rosters
    (operators/dedup.py::embedding_roster_update)."""
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")

    def scaled(factor: float, offset: int) -> DataFrame:
        return e.select(
            (F.col("vec_id") + F.lit(offset)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x.cast("double") * F.lit(factor)).cast("float"),
            ).alias("embedding"),
        )

    corpus = e.unionByName(scaled(2.0, _PLANT_OFFSET))
    increment = scaled(4.0, 2 * _PLANT_OFFSET)
    with DD.Staging() as st:
        standing = st.pin(st.adopt(DD.embedding_near_dup_groups(corpus, threshold=0.95)))
        return st.own(st.adopt(DD.embedding_roster_update(
            corpus, increment, standing, threshold=0.95, emit="full"
        )))


def _emb_recall_oracle(threshold: float, hex_hi: str) -> str:
    """Oracle for ``dedup_embedding_recall_sampled`` over the planted
    corpus: exact all-pairs cosine on the md5 vec_id stratum (the same
    frac→hex rule as the Spark Column, derived not duplicated), then the
    shared Wilson block. n_lsh and n_found equal n_exact HERE BY
    CONSTRUCTION, and the equality is a falsifiable claim about the
    OPERATOR, not an assumption baked into the corpus: every exact pair
    on this corpus is a ×2-twin pair, twins share every sign key exactly
    (power-of-two scaling is an exponent shift — every plane dot doubles
    exactly, signs unchanged), so banded recall is 1.0 at ANY geometry
    and the verify step is exact. If the banding or verify ever dropped
    a planted pair, Spark's n_lsh/n_found would fall below the oracle's
    and the gate would fail — exactly the regression this pin exists
    for. (Same residual caveat as every embedding gate: an organic
    sub-saturation pair appearing in regenerated testdata would sit in
    the <1% banding miss budget; none exists at 0.95.)"""
    return f"""
    WITH {_EMB_PLANT_CTE},
    e AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu
      WHERE embedding IS NOT NULL
        AND substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) <= '{hex_hi}'),
    exact_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) >= {threshold}),
    counts AS (
      SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
             (SELECT COUNT(*) FROM exact_pairs) AS n_lsh,
             (SELECT COUNT(*) FROM exact_pairs) AS n_found)
    SELECT {_WILSON_SELECT_SQL}
    FROM counts
"""


#: 25% gate stratum for the EMBEDDING recall gate (the text gate needs
#: 50% because organic J-pairs are sparse at sf0.01; the planted corpus
#: guarantees ~frac²·|embeddings| twin pairs, so 25% keeps ≥ 30 stratum
#: pairs at every sf while the exact all-pairs bill drops 4×)
_EMB_GATE_SAMPLE_FRAC = 0.25


@_q(
    "dedup_embedding_recall_sampled",
    _emb_recall_oracle(0.95, DD.stratum_hex_hi(_EMB_GATE_SAMPLE_FRAC)),
)
def dedup_embedding_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED sign-LSH recall for the embedding family (VERDICT r10 #3 —
    the text family had exact + sampled recall health checks; the
    embedding family only pytest/SCALE recall): exact all-pairs cosine
    restricted to a deterministic md5 vec_id stratum vs the banded LSH
    pairs on the same stratum, with the shared Wilson 95% interval. Runs
    on the PLANTED corpus so the gate pins a positive path — a ×2-twin
    pair is stratum-internal with probability frac² ≈ 1/16 at the 25%
    gate fraction (twins share the original's md5 stratum fate only
    through their own shifted ids, so both endpoints must survive) —
    while
    the production 1% default is measured at the jittered decades
    (SCALE.md), where the frac² exact-bill drop is the point
    (operators/dedup.py::embedding_recall_sampled)."""
    return DD.embedding_recall_sampled(
        _planted_embeddings(spark, sf_dir),
        threshold=0.95, sample_frac=_EMB_GATE_SAMPLE_FRAC,
    )


_TOKS_CTE = """
      SELECT doc_id, lang,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
"""

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT v AS doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM lab
"""


@_q("dedup_cluster_assign", _CLUSTER_ORACLE)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: MinHash+LSH candidate pairs, exact-
    Jaccard-verified at ≥0.5 (the 16×4 banding's s-curve design point),
    fed into iterative min-label connected components. Every doc maps to
    the min reachable doc_id. This is the at-scale pipeline shape end to
    end: candidate generation is banded LSH (shuffles only (id, band,
    bucket) longs — never super-linear in clone count, unlike an exact
    all-pairs shingle join), verification is an id-join, and the CC loop
    shuffles bare longs. The exact n-gram path (``dedup_ngram_jaccard``)
    remains the small-corpus verifier.

    The oracle recomputes the fixpoint with a recursive CTE over the
    verified banded-LSH pair set, with the banding modeled independently
    from the pinned band-key fixture (see ``_lsh_band_ctes`` — exact for
    any corpus; LSH-vs-exact recall is its own gate,
    ``dedup_minhash_recall``); tests/test_dedup.py additionally asserts
    LSH-fed CC ≡ exact-fed CC on planted-duplicate corpora."""
    d = load_table(spark, "documents", sf_dir)
    # intermediates stay persisted until the lazy result is consumed;
    # callers (bench/harness) clearCache between queries
    return DD.cluster_assign_collapsed(d, threshold=0.5, k=3)


_GROUPS_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           list(v ORDER BY v) AS members
    FROM lab GROUP BY cluster_id HAVING COUNT(*) >= 2
"""


@_q("dedup_incremental_rosters", _GROUPS_ORACLE)
def dedup_incremental_rosters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ROSTER maintenance, gate-visible (VERDICT r10 #4):
    documents split into a standing corpus (doc_id % 5 != 0) and an
    ingest batch (% 5 == 0); the standing rosters are computed over the
    corpus alone, then ``incremental_roster_update`` folds the batch in
    — batch LSH + cross probe + connected components over ONLY the
    touched quotient vertices, never the corpus
    (operators/dedup.py::incremental_roster_update). The oracle is the
    SAME recursive-CTE roster fixpoint as ``dedup_minhash_groups`` over
    the whole table: the incremental composition must be exactly the
    from-scratch answer (pair fate depends only on the two texts, so
    corpus-internal pairs are invariant under ingestion — the quotient
    argument in the operator docstring)."""
    d = load_table(spark, "documents", sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    increment = d.filter(F.col("doc_id") % 5 == 0)
    # one composition: standing rosters then the incremental update over
    # one shared corpus staging (operators/dedup.py::
    # incremental_roster_refresh); every pin rides the result.
    return DD.incremental_roster_refresh(
        corpus, increment, threshold=0.5, k=3, emit="full"
    )


#: delta-emit oracle (round 12): the upsert rows a standing rosters
#: table consumes per ingest are EXACTLY (a) the union-roster rows that
#: differ from the standing rosters over the corpus split — any touched
#: component gains at least one batch doc or merges families, so
#: "touched" ≡ "(cluster_id, members) changed" — plus (b) a
#: (cluster_id, 0, []) tombstone per standing label absent from the
#: union labels (a label absorbed under a smaller min id can never
#: resurface: labels are min member ids and members never leave a
#: family). Both fixpoints recompute independently in SQL over the same
#: pinned band-key model, so the tombstone semantics (ADVICE r11) are
#: driver-gate-pinned, not just pytest-pinned.
_ROSTERS_DELTA_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v),
    union_rosters AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
             list(v ORDER BY v) AS members
      FROM lab GROUP BY cluster_id HAVING COUNT(*) >= 2),
    cedges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
      WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
    ),
    creach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents WHERE doc_id % 5 <> 0
      UNION
      SELECT e.w AS v, creach.r AS r FROM creach JOIN cedges e ON creach.v = e.v
    ),
    clab AS (SELECT v, MIN(r) AS cluster_id FROM creach GROUP BY v),
    standing AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
             list(v ORDER BY v) AS members
      FROM clab GROUP BY cluster_id HAVING COUNT(*) >= 2)
    SELECT u.cluster_id, u.cluster_size, u.members
    FROM union_rosters u
    WHERE NOT EXISTS (
      SELECT 1 FROM standing s
      WHERE s.cluster_id = u.cluster_id AND s.members = u.members)
    UNION ALL
    SELECT s.cluster_id, CAST(0 AS BIGINT) AS cluster_size,
           CAST([] AS BIGINT[]) AS members
    FROM standing s
    WHERE s.cluster_id NOT IN (SELECT cluster_id FROM union_rosters)
"""


@_q("dedup_incremental_rosters_delta", _ROSTERS_DELTA_ORACLE)
def dedup_incremental_rosters_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_rosters`` with ``emit="delta"`` — the
    per-ingest UPSERT shape, gate-visible (round 12): only the rosters
    the batch created or changed cross the wire, plus a
    ``(cluster_id, 0, [])`` tombstone for every standing label the
    batch's merges retired (ADVICE r11 — without tombstones a pure
    upsert leaves the absorbed family's stale roster standing). The
    oracle recomputes BOTH roster fixpoints (union and corpus-only)
    over the pinned band-key model and derives the delta
    set-algebraically, so new/changed/retired classification is pinned
    by value, not asserted
    (operators/dedup.py::incremental_roster_update,
    ``_roster_update_assemble``)."""
    d = load_table(spark, "documents", sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    increment = d.filter(F.col("doc_id") % 5 == 0)
    # the same refresh composition as dedup_incremental_rosters
    return DD.incremental_roster_refresh(
        corpus, increment, threshold=0.5, k=3, emit="delta"
    )


@_q("dedup_minhash_groups", _GROUPS_ORACLE)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster rosters — the LINEAR-output dedup contract:
    (cluster_id, size, sorted member ids) per multi-doc cluster, riding
    the same collapse→LSH→verify→CC pipeline as ``dedup_cluster_assign``
    (operators/dedup.py::minhash_groups_collapsed). Registered so the
    skew-flat production path is itself oracle-green: a k-clone hot
    family costs one k-element row here versus C(k,2) rows under the
    pair contract. Oracle = the same recursive-CTE fixpoint over the
    pinned band-key fixture, aggregated to rosters."""
    return DD.minhash_groups_collapsed(
        load_table(spark, "documents", sf_dir), threshold=0.5, k=3
    )


@_q(
    "doc_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS INTEGER)
               AS n_tokens
      FROM documents),
    s AS (
      SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
      FROM t)
    SELECT doc_id, lang, n_tokens, start_offset,
           start_offset // 2048 AS seq_id
    FROM s
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: concatenate docs in id order within each
    language shard and chunk the token stream into 2048-token context
    windows — each doc gets its stream offset and sequence id. One window
    cumsum per shard (parallel across shards; at 100 TB the shard key is
    whatever unit the tokenizer job packs, so no global sort exists)."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    base = d.select(
        "doc_id", "lang", F.size(TX.words(F.col("text"))).alias("n_tokens")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    return base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long").alias("start_offset"),
    ).withColumn("seq_id", F.expr("start_offset div 2048"))


_TFIDF_ORACLE = f"""
    WITH w AS ({_TOKS_CTE}),
    e AS (
      SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term
      FROM w WHERE len(toks) > 0),
    tf AS (
      SELECT doc_id, doc_len, term, COUNT(*) AS tf
      FROM e GROUP BY doc_id, doc_len, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM w WHERE len(toks) > 0),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             (CAST(t.tf AS DOUBLE) / t.doc_len)
               * (CAST(n.n_docs AS DOUBLE) / d.df) AS tfidf
      FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


@_q("text_tfidf_top_terms", _TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by TF-IDF (rational idf N/df — no log, so the
    score is two exact int->double divisions and one multiply, bit-identical
    cross-engine). df comes from a count-over-term window ON the tf table —
    NOT a separate groupBy+join back: column pruning makes the tf exchange
    non-canonical between such branches, so ReuseExchange never fires and
    the tokenize+explode runs twice (measured 6.6 s → 2.6 s at sf0.1).
    Single linear pipeline: explode → tf agg → term window → doc window,
    plus one broadcast 1-row corpus count."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    e = base.select("doc_id", F.size("toks").alias("doc_len"), F.explode("toks").alias("term"))
    tf = e.groupBy("doc_id", "doc_len", "term").agg(F.count(F.lit(1)).alias("tf"))
    withdf = tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = withdf.crossJoin(F.broadcast(n_docs)).withColumn(
        "tfidf",
        (F.col("tf").cast("double") / F.col("doc_len"))
        * (F.col("n_docs").cast("double") / F.col("df")),
    )
    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


_BM25_ORACLE = f"""
    WITH w AS ({_TOKS_CTE}),
    base AS (SELECT doc_id, toks FROM w WHERE len(toks) > 0),
    e AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM e GROUP BY doc_id, dl, term),
    wdf AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_len FROM base),
    q AS (
      SELECT term, df FROM (SELECT DISTINCT term, df FROM wdf)
      ORDER BY df DESC, term LIMIT 8),
    scored AS (
      SELECT t.term, t.doc_id, t.tf,
             CAST(t.dl AS BIGINT) AS dl, CAST(q.df AS BIGINT) AS df,
             CAST(floor(ln((CAST(s.n_docs - q.df AS DOUBLE) + 0.5)
                           / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
                        * 1000000.0 + 0.5) AS BIGINT) AS idf_q6,
             CAST(floor(
               (CAST(floor(ln((CAST(s.n_docs - q.df AS DOUBLE) + 0.5)
                              / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
                           * 1000000.0 + 0.5) AS BIGINT) / 1000000.0)
               * (CAST(t.tf AS DOUBLE) * 2.2
                  / (CAST(t.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(t.dl AS DOUBLE)
                                             * s.n_docs / s.total_len))))
               * 1000000.0 + 0.5) AS BIGINT) AS score_q6
      FROM wdf t JOIN q ON t.term = q.term CROSS JOIN stats s)
    SELECT term, doc_id, tf, dl, df, idf_q6, score_q6,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
                ORDER BY score_q6 DESC, doc_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
"""


@_q("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009, k1=1.2 b=0.75):
    top-10 documents per query term over the postings table — the
    scoring-ranked complement of ``inverted_index_postings`` (boolean
    retrieval) and ``text_tfidf_top_terms`` (per-doc term salience).
    The gate's query workload self-derives as the corpus's 8 highest-df
    terms (df desc, term asc — deterministic); production supplies its
    own terms and skips that branch.

    Cross-engine device: idf = ln((N−df+0.5)/(df+0.5)+1) is the one
    transcendental — fixed-point quantized (×1e6, floor(x+0.5), BIGINT)
    before use, the house ln discipline; the tf saturation
    tf·(k1+1)/(tf + k1·(1−b + b·dl·N/Σdl)) is divisions/multiplies of
    identical operands in the identical order, bit-stable across Spark
    and DuckDB, and the final score re-quantizes to score_q6 so the
    rank tie-break (score_q6 desc, doc_id) is integer-exact.

    Scale shape: one corpus-sized tf shuffle with map-side combine; df
    rides a term-window ON the tf table (the single-pipeline tfidf
    lesson — no second tokenize); corpus stats are a broadcast 1-row
    aggregate; the 8-term workload broadcast-joins the postings so
    scoring and the top-k window (WindowGroupLimit-pruned) touch only
    the workload's postings. At 100 TB the index is built once per
    ingest and the per-query bill is |postings(term)| — the classic
    inverted-index retrieval shape."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    e = base.select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    )
    tf = e.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_len"),
    )
    q = (
        wdf.select("term", "df").distinct()
        .orderBy(F.col("df").desc(), "term")
        .limit(8)
        .select("term")
    )
    idf_q6 = F.floor(
        F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1.0
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    scored = (
        wdf.join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_q6", idf_q6)
        .withColumn(
            "score_q6",
            F.floor(
                (F.col("idf_q6") / 1000000.0)
                * (
                    F.col("tf").cast("double") * 2.2
                    / (
                        F.col("tf").cast("double")
                        + 1.2
                        * (
                            0.25
                            + 0.75
                            * (
                                F.col("dl").cast("double")
                                * F.col("n_docs")
                                / F.col("total_len")
                            )
                        )
                    )
                )
                * 1000000.0
                + 0.5
            ).cast("long"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("term").orderBy(F.col("score_q6").desc(), "doc_id")
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= 10)
        .select(
            "term",
            "doc_id",
            "tf",
            F.col("dl").cast("long").alias("dl"),
            F.col("df").cast("long").alias("df"),
            "idf_q6",
            "score_q6",
            "rank",
        )
    )


_POSTINGS_ORACLE = f"""
    WITH w AS ({_TOKS_CTE}),
    t AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest(toks) AS term FROM w)),
    r AS (
      SELECT term, doc_id,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY term) AS df
      FROM t)
    SELECT term, CAST(MAX(df) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS posting
    FROM r WHERE rn <= 20 GROUP BY term
"""


@_q("inverted_index_postings", _POSTINGS_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> document frequency + the first 20
    posting doc_ids (rendered to a string for the gate). The window
    row_number caps per-term state BEFORE collection, so no posting list
    ever exceeds 20 entries in executor memory regardless of term skew —
    the full df count rides the same window pass. The collect_list output
    aggregate downgrades its (tiny, vocab-sized) node to
    ObjectHashAggregate; the row-heavy stages before it stay codegen'd."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    t = (
        d.select("doc_id", F.explode(TX.words(F.col("text"))).alias("term"))
        .distinct()
    )
    wt = W.partitionBy("term")
    r = t.select(
        "term",
        "doc_id",
        F.row_number().over(wt.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("df"),
    )
    return (
        r.filter(F.col("rn") <= 20)
        .groupBy("term")
        .agg(
            F.max("df").alias("df"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("posting"),
        )
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"
_NUM_RE = "[0-9]{2,}"


@_q(
    "text_redact_events_pii",
    f"""
    SELECT event_id,
           regexp_replace(regexp_replace(regexp_replace(props,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_URL_RE}', '<URL>', 'g'),
               '{_NUM_RE}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '{_NUM_RE}')) AS INTEGER)
             AS n_digit_runs
    FROM events
    """,
)
def text_redact_events_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over event payloads: email / URL / digit-run redaction as
    a chained regexp_replace (narrow projection, codegen'd, zero shuffle —
    the shape a log-scrubbing pass keeps at any scale). Patterns restricted
    to the Java-regex ∩ RE2 common dialect so the DuckDB oracle matches."""
    e = load_table(spark, "events", sf_dir)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("props"), _EMAIL_RE, "<EMAIL>"),
            _URL_RE,
            "<URL>",
        ),
        _NUM_RE,
        "<NUM>",
    )
    return e.select(
        "event_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all("props", F.lit(_NUM_RE), 0)).alias("n_digit_runs"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE = """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
          (a, b) -> a + b)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(q.q_emb) + 1),
                 i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
               (a, b) -> a + b))) AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
                AS INTEGER) AS rank,
           cos
    FROM scored
    QUALIFY rank <= 10
"""


@_q("similarity_cosine_topk", _COSINE_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors. Left-to-right
    double folds on both engines ⇒ bit-identical cosines."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_topk(e, q, k=10)


@_q("similarity_topk_matmul", _COSINE_ORACLE)
def similarity_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHUFFLE-PRUNED exact top-k (round 13) under the same oracle
    as ``similarity_cosine_topk``: per-partition BLAS shortlists cut the
    rank window's input from N·|Q| scored rows to ≤ partitions·|Q|·k
    candidates (the latent quadratic-shuffle wall of the brute plan —
    the same volume class the radius matmul path closed), then the
    final (rank, cos) are re-computed with the IDENTICAL Column-fold
    cosine and (cos desc, id) tie-break — so the gate is hash-exact,
    cos bits included, against the all-pairs oracle."""
    from cql_xmlpipe_spark.operators.similarity import topk_matmul

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return topk_matmul(e, q, k=10)


_RADIUS_ORACLE = """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
          (a, b) -> a + b)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(q.q_emb) + 1),
                 i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
               (a, b) -> a + b))) AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
    SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.35
"""


@_q("similarity_radius_search", _RADIUS_ORACLE)
def similarity_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine RADIUS search (every neighbor within cos >= 0.35 of
    each query, queries = every 97th vector) — the range-query
    complement of ``similarity_cosine_topk``: top-k bounds the result
    size, radius bounds the similarity; retrieval filtering and
    near-dup probing need both shapes. Same left-to-right double folds
    as the top-k gate ⇒ bit-identical cosines; result is a SET (no
    rank column), so the gate is insensitive to corpus density. The
    0.35 threshold sits below the natural corpus's ~0.47 max
    off-diagonal cosine, keeping the gate non-vacuous at sf0.01
    (9 rows measured) without depending on planted structure."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    from cql_xmlpipe_spark.operators.similarity import radius_search

    return radius_search(e, q, threshold=0.35)


@_q(
    "similarity_radius_matmul",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
          (a, b) -> a + b)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(q.q_emb) + 1),
                 i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
               (a, b) -> a + b))) AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.q_id)
    SELECT q_id, vec_id FROM scored WHERE cos >= 0.35
""",
)
def similarity_radius_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS scale path of :func:`radius_search` under the exact
    oracle: same query shape and threshold as ``similarity_radius_search``
    but scored by the Arrow-batched float64 matmul
    (``candidates='matmul'`` — the round-13 replacement for the 241 s
    codegen wall SCALE.md measured at the 100× decade). The qualifying
    SET is provably identical to the codegen fold's away from the
    threshold boundary — BLAS blocked summation agrees with the
    left-to-right fold to ~1 ulp, and no natural-corpus pair sits within
    1 ulp of 0.35 — so the gate pins (q_id, vec_id) and leaves the
    bit-level cos pin to the broadcast twin."""
    from cql_xmlpipe_spark.operators.similarity import radius_search

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return radius_search(e, q, threshold=0.35, candidates="matmul").select(
        "q_id", "vec_id"
    )


_RADIUS_BANDED_ORACLE = f"""
    WITH {_EMB_PLANT_CTE},
    q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
          WHERE vec_id % 31 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id,
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
          (a, b) -> a + b)
        / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b))
           * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(q.q_emb) + 1),
                 i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
               (a, b) -> a + b))) AS cos
      FROM eu e, q WHERE e.vec_id <> q.q_id)
    SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.95
"""


def _radius_banded_inputs(spark: SparkSession, sf_dir: str):
    """(planted corpus, query set) for the banded radius gates: corpus =
    embeddings ∪ exact-×2 twins (``_planted_embeddings`` — the sign-LSH
    recall-1.0-by-construction device of the round-11 planted gates: a
    ×2 twin doubles every plane dot exactly, so it lands in the SAME
    sign bucket in every band at ANY geometry, yet is a distinct byte
    pattern that must travel the real candidate join); queries = every
    31st original. The natural corpus's max off-diagonal cosine is
    ~0.47, so at threshold 0.95 the exact answer is exactly one twin
    row per query — non-vacuous, and banded ≡ exact deterministically
    rather than up to a recall budget."""
    corpus = _planted_embeddings(spark, sf_dir)
    q = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") % 31 == 0
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return corpus, q


@_q("similarity_radius_banded_planted", _RADIUS_BANDED_ORACLE)
def similarity_radius_banded_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BANDED radius path (round 13 — the scale plan for
    high-threshold radius search the r12 verdict named as the one weak
    component) under a hash-exact all-pairs oracle: sign-key candidates
    (``banded_sign_keys``, 24×16 — the near-dup family's recall-measured
    geometry) joined corpus×queries on (band, bkey), then the IDENTICAL
    hoisted-norm ``cosine >= threshold`` verify — so every emitted cos
    is bit-identical to the exact path's and the planted twins guarantee
    the candidate set misses nothing (see ``_radius_banded_inputs``)."""
    from cql_xmlpipe_spark.operators.similarity import radius_search

    corpus, q = _radius_banded_inputs(spark, sf_dir)
    return radius_search(
        corpus, q, threshold=0.95, candidates="banded", n_bands=24, band_bits=16
    )


@_q(
    "similarity_radius_banded_recall",
    """
    SELECT vec_id AS q_id, CAST(1.0 AS DOUBLE) AS recall
    FROM embeddings WHERE vec_id % 31 = 0
""",
)
def similarity_radius_banded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of banded radius vs the exact broadcast path,
    computed LIVE (the ``similarity_lsh_recall`` shape, radius edition):
    |banded ∩ exact| / |exact| per query over the planted corpus, 1.0
    when a query has no exact neighbors. The ×2-twin construction makes
    1.0 the DETERMINISTIC answer at any geometry (not a pinned
    frozen-run value), so the oracle is a constant — what the gate
    actually checks is that the banded candidate join + verify finds
    every qualifying pair the exact scan finds, end to end; the
    miss-budget behavior of jittered (non-invariant) neighbors is
    pinned by tests/test_curation_ops.py against auto_band_config's
    recall law."""
    from cql_xmlpipe_spark.operators.similarity import radius_search

    corpus, q = _radius_banded_inputs(spark, sf_dir)
    exact = radius_search(corpus, q, threshold=0.95, candidates="broadcast").select(
        "q_id", "vec_id"
    )
    banded = radius_search(
        corpus, q, threshold=0.95, candidates="banded", n_bands=24, band_bits=16
    ).select("q_id", "vec_id")
    n_ex = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ex"))
    n_hit = (
        banded.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        q.select("q_id")
        .join(n_ex, "q_id", "left")
        .join(n_hit, "q_id", "left")
        .select(
            "q_id",
            F.when(
                F.coalesce(F.col("n_ex"), F.lit(0)) == 0, F.lit(1.0)
            )
            .otherwise(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_ex")
            )
            .alias("recall"),
        )
    )


#: Corpus fingerprint keying the frozen-run ANN pin fixtures. Covers the
#: embedding VALUES (fixed-precision %.6e rendering), not just (vec_id,
#: label): a regenerated corpus with identical ids/labels but different
#: vectors must miss the pin key and hit the loud 'rerun the fixture
#: script' error, not surface as an opaque hash-mismatch. One definition,
#: imported by both make_ann_*_fixture.py scripts.
EMB_CORPUS_FINGERPRINT_SQL = """
      SELECT md5(string_agg(vec_id || ':' || label || ':' ||
               array_to_string(list_transform(embedding,
                 x -> printf('%.6e', CAST(x AS DOUBLE))), ';'),
               ',' ORDER BY vec_id)) AS k
      FROM embeddings"""

_ANN_TOPK_PINS = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "ann_topk_pins.parquet",
)


def _ann_topk_oracle(algo: str) -> str:
    """Pinned-top-k oracle for a production ANN variant: the exact
    (q_id, vec_id, rank, cos) rows of one frozen operator run
    (scripts/make_ann_topk_fixture.py — stability-asserted across
    shuffle-partition settings before pinning), keyed by the corpus
    fingerprint; errors loudly when the corpus has no pins."""
    return f"""
    WITH ck AS ({EMB_CORPUS_FINGERPRINT_SQL}),
    pins AS (
      SELECT f.q_id, f.vec_id, f.rank, f.cos
      FROM read_parquet('{_ANN_TOPK_PINS}') f, ck
      WHERE f.algo = '{algo}' AND f.corpus_key = ck.k)
    SELECT q_id, vec_id, rank, cos FROM pins
    UNION ALL
    SELECT CAST(error('no {algo} top-k pins for this embeddings corpus: '
                      || 'rerun scripts/make_ann_topk_fixture.py') AS BIGINT),
           NULL, NULL, NULL
    FROM ck WHERE NOT EXISTS (SELECT 1 FROM pins)
"""


@_q("similarity_lsh_topk", _ann_topk_oracle("lsh"))
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-random-projection buckets + multiprobe.
    Hash-gated since round 7 against the pinned frozen-run fixture: the
    planes are hash-derived (deterministic, no model state), so the full
    production output — candidates, tie-breaks, cosines — must reproduce
    bit-for-bit; recall vs brute force is separately gated by
    similarity_lsh_recall and exactness of the machinery by the
    fullprobe twin."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return lsh_topk(e, q, k=10)


@_q("similarity_lsh_fullprobe_topk", _COSINE_ORACLE)
def similarity_lsh_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH machinery under the exact-cosine oracle: with one
    hyperplane and multiprobe 1 every query probes both buckets, so
    bucketing → probe-explode → join → rank must reproduce brute-force
    top-k exactly. Gate-visibility for the LSH code path; the production
    8-plane variant below stays rows-only with pytest recall checks."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return lsh_topk(e, q, k=10, n_planes=1, multiprobe=1)


@_q("similarity_ivf_topk", _ann_topk_oracle("ivf"))
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF coarse quantizer (KMeans cells +
    n_probe search). Hash-gated since round 7 against the pinned
    frozen-run fixture (seeded KMeans is deterministic —
    stability-asserted across shuffle settings before pinning); recall
    is separately gated by similarity_ivf_recall and machinery exactness
    by the fullprobe twin."""
    from cql_xmlpipe_spark.operators.similarity import ivf_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_topk(e, q, k=10)


@_q("similarity_ivf_fullprobe_topk", _COSINE_ORACLE)
def similarity_ivf_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF machinery under the exact-cosine oracle: with
    ``n_probe == n_cells`` every query probes every cell, so the
    KMeans-train → matmul-assign → cell-join → rank pipeline must
    reproduce brute-force top-k EXACTLY (same tie-break: cos desc, id).
    This makes the IVF code path gate-visible end to end; the production
    n_probe=3 variant above stays rows-only with pytest recall checks."""
    from cql_xmlpipe_spark.operators.similarity import ivf_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_topk(e, q, k=10, n_cells=16, n_probe=16)


_ANN_PINS = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "ann_recall_pins.parquet",
)


def _ann_recall_oracle(algo: str) -> str:
    """Pinned-recall oracle for a production ANN variant: rows come from
    the frozen-run fixture (scripts/make_ann_recall_fixture.py — approx
    side one seeded operator run, exact side DuckDB), selected by a
    corpus content fingerprint so each sf reads its own pins; errors
    loudly when the current corpus has no pinned rows (testdata drift)."""
    return f"""
    WITH ck AS ({EMB_CORPUS_FINGERPRINT_SQL}),
    pins AS (
      SELECT f.q_id, f.recall
      FROM read_parquet('{_ANN_PINS}') f, ck
      WHERE f.algo = '{algo}' AND f.corpus_key = ck.k)
    SELECT q_id, recall FROM pins
    UNION ALL
    SELECT CAST(error('no {algo} recall pins for this embeddings corpus: '
                      || 'rerun scripts/make_ann_recall_fixture.py') AS BIGINT),
           NULL
    FROM ck WHERE NOT EXISTS (SELECT 1 FROM pins)
"""


def _ann_recall(spark: SparkSession, sf_dir: str, algo: str) -> DataFrame:
    """recall@10 of a production ANN variant per query, computed live:
    approximate top-10 ∩ brute-force top-10 (the brute-force baseline is
    itself oracle-gated by similarity_cosine_topk). Every q_id emits a
    row even at 0 hits (left join from the query set)."""
    from cql_xmlpipe_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_topk,
    )

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = {
        "lsh": lsh_topk, "ivf": ivf_topk, "pq": pq_topk, "ivfpq": ivfpq_topk,
    }[algo](e, q, k=10)
    exact = brute_force_topk(e, q, k=10)
    hits = (
        approx.select("q_id", "vec_id")
        .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 10.0).alias(
                "recall"
            ),
        )
    )


@_q("similarity_lsh_recall", _ann_recall_oracle("lsh"))
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the PRODUCTION 8-plane multiprobe-1 sign-LSH: per-query
    recall@10 vs live brute force must reproduce the pinned frozen-run
    values bit-for-bit — any drift in plane hashing, probing, tie-breaks
    or the brute-force baseline fails loudly. Exactness of the LSH
    machinery itself is separately gated by similarity_lsh_fullprobe_topk."""
    return _ann_recall(spark, sf_dir, "lsh")


@_q("similarity_ivf_recall", _ann_recall_oracle("ivf"))
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the PRODUCTION 16-cell n_probe-3 IVF: per-query recall@10
    vs live brute force against pinned frozen-run values (seeded KMeans —
    deterministic). Machinery exactness is separately gated by
    similarity_ivf_fullprobe_topk (n_probe == n_cells ≡ brute force)."""
    return _ann_recall(spark, sf_dir, "ivf")


@_q(
    "doc_chunk_overlap",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0),
    idx AS (
      SELECT doc_id, text, n,
             unnest(range(0, CAST(floor((n - 1) / 400.0) AS BIGINT) + 1))
               AS chunk_idx
      FROM d)
    SELECT doc_id, chunk_idx,
           chunk_idx * 400 + 1 AS start,
           CAST(length(substr(text, CAST(chunk_idx * 400 + 1 AS INTEGER), 500))
                AS INTEGER) AS chunk_len,
           md5(substr(text, CAST(chunk_idx * 400 + 1 AS INTEGER), 500)) AS digest
    FROM idx
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (size 500 chars, stride 400 — the
    RAG/context-window prep step): one generate+project, no shuffle; the
    chunk count derives from the length column so no second text scan.
    Chunks leave as (len, md5) so the gate compares content without
    shipping the text itself."""
    d = load_table(spark, "documents", sf_dir).filter(F.length("text") > 0)
    n_chunks_minus1 = F.floor((F.length("text") - 1) / F.lit(400.0)).cast("long")
    idx = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks_minus1)).alias("chunk_idx"),
    )
    start = (F.col("chunk_idx") * 400 + 1).cast("long")
    chunk = F.substring(F.col("text"), (F.col("chunk_idx") * 400 + 1).cast("int"), 500)
    return idx.select(
        "doc_id",
        "chunk_idx",
        start.alias("start"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk.cast("binary")).alias("digest"),
    )


@_q(
    "quality_percentile_filter",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS INTEGER)
               AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, lang, n_tokens,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY n_tokens, doc_id) AS pr
      FROM t)
    SELECT doc_id, lang, n_tokens, pr FROM r WHERE pr >= 0.1
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gate: drop the bottom decile of docs per language
    by token count — the distribution-aware filter (vs fixed thresholds)
    a corpus pipeline applies per shard. percent_rank is (rank-1)/(n-1),
    two exact ints divided once — deterministic cross-engine; doc_id
    tie-break pins ranks. One window shuffle on the shard key."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    t = d.select("doc_id", "lang", F.size(TX.words(F.col("text"))).alias("n_tokens"))
    pr = F.percent_rank().over(W.partitionBy("lang").orderBy("n_tokens", "doc_id"))
    return t.select("doc_id", "lang", "n_tokens", pr.alias("pr")).filter(
        F.col("pr") >= 0.1
    )


@_q(
    "events_gap_fill_hourly",
    """
    WITH b AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS bucket, value
      FROM events WHERE user_id < 50),
    per AS (
      SELECT user_id, bucket, COUNT(*) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS bucket_avg
      FROM b GROUP BY user_id, bucket),
    bounds AS (
      SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
      FROM b GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM bounds),
    j AS (
      SELECT g.user_id, g.bucket, COALESCE(p.n_events, 0) AS n_events,
             p.bucket_avg
      FROM grid g LEFT JOIN per p
        ON g.user_id = p.user_id AND g.bucket = p.bucket)
    SELECT user_id, bucket * 3600 AS bucket_start, n_events,
           last_value(bucket_avg IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
    FROM j
    """,
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: per-user hourly grid between each user's
    first and last event, empty hours carried forward from the last
    observed bucket average (the regularization step before training on
    irregular event streams). Grid size is bounded by time-span/3600 per
    user — it never explodes with event volume; the forward fill is one
    running ``last(ignorenulls)`` window. The fill value is a single
    column, so there is no multi-column last() row-stitching hazard."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 50)
    # the inner cast(timestamp) is a no-op for TimestampType but makes the
    # epoch extraction legal for TIMESTAMP_NTZ inputs too (plain µs/ms
    # parquet loads as NTZ, and NTZ→long is disallowed in Spark 4)
    b = e.select(
        "user_id",
        F.expr("cast(cast(ts as timestamp) as long) div 3600").alias("bucket"),
        "value",
    )
    per = b.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        (dsum(F.col("value")) / F.count(F.lit(1))).alias("bucket_avg"),
    )
    bounds = b.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    j = grid.join(per, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "bucket_avg",
    )
    fill = F.last("bucket_avg", ignorenulls=True).over(
        W.partitionBy("user_id").orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        (F.col("bucket") * 3600).alias("bucket_start"),
        "n_events",
        fill.alias("filled_avg"),
    )


@_q(
    "embedding_quantize_int8",
    """
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
             embedding
      FROM embeddings)
    SELECT vec_id, CAST(max_abs AS DOUBLE) AS max_abs,
           CASE WHEN max_abs = 0 THEN ''
                ELSE array_to_string(list_transform(embedding,
                  x -> CAST(CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs)
                                       + 0.5) AS BIGINT) AS VARCHAR)), ',')
           END AS q8
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (the memory-reduction step
    before ANN indexing at scale: 4 bytes/dim -> 1). scale = 127/max|x|;
    q_i = floor(x_i*scale + 0.5) — floor-based half-up rounding because the
    engines' round() tie-breaking differs, while mul/div/floor are IEEE
    single-rounded and bit-identical. Narrow projection, zero shuffle;
    rendered to a string for the gate's canonicalizer."""
    e = load_table(spark, "embeddings", sf_dir)
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x))))
    base = e.select("vec_id", F.col("embedding"), max_abs.alias("max_abs"))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(xd(x) * (F.lit(127.0) / F.col("max_abs")) + 0.5).cast("long").cast("string"),
    )
    return base.select(
        "vec_id",
        F.col("max_abs").cast("double").alias("max_abs"),
        F.when(F.col("max_abs") == 0, "").otherwise(F.array_join(q, ",")).alias("q8"),
    )


@_q(
    "profile_doc_length_histogram",
    """
    WITH b AS (
      SELECT n_chars,
             CASE WHEN n_chars < 0 THEN 0
                  WHEN n_chars >= 2000 THEN 21
                  ELSE CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS BIGINT) + 1
             END AS bucket
      FROM documents)
    SELECT bucket, COUNT(*) AS n,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY bucket
    """,
)
def profile_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: document-length histogram via width_bucket — the
    fixed-bin shape that needs no quantile pre-pass, so it stays one
    map-side-combining aggregate at any corpus size."""
    d = load_table(spark, "documents", sf_dir)
    b = F.width_bucket(F.col("n_chars").cast("double"), F.lit(0.0), F.lit(2000.0), F.lit(20))
    return d.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_ZIPF_ORACLE = f"""
    WITH w AS ({_TOKS_CTE}),
    tf AS (
      SELECT term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS term FROM w)
      GROUP BY term)
    SELECT CASE WHEN c = 1 THEN '1' WHEN c <= 3 THEN '2-3'
                WHEN c <= 7 THEN '4-7' WHEN c <= 15 THEN '8-15'
                WHEN c <= 31 THEN '16-31' ELSE '32+' END AS freq_bucket,
           COUNT(*) AS n_terms, CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM tf
    GROUP BY CASE WHEN c = 1 THEN '1' WHEN c <= 3 THEN '2-3'
                  WHEN c <= 7 THEN '4-7' WHEN c <= 15 THEN '8-15'
                  WHEN c <= 31 THEN '16-31' ELSE '32+' END
"""


@_q("profile_term_zipf", _ZIPF_ORACLE)
def profile_term_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency profile (the Zipf check before vocab/tokenizer
    decisions): term counts bucketed into power-of-two bands via a CASE
    ladder — log2() is NOT bit-stable cross-engine, integer comparisons
    are. One explode + two map-side-combining aggregates."""
    d = load_table(spark, "documents", sf_dir)
    tf = (
        d.select(F.explode(TX.words(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c")
    bucket = (
        F.when(c == 1, "1")
        .when(c <= 3, "2-3")
        .when(c <= 7, "4-7")
        .when(c <= 15, "8-15")
        .when(c <= 31, "16-31")
        .otherwise("32+")
    )
    return tf.groupBy(bucket.alias("freq_bucket")).agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("c").alias("n_tokens")
    )


@_q(
    "profile_embedding_norms",
    """
    WITH n AS (
      SELECT vec_id,
             sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b)) AS nrm
      FROM embeddings)
    SELECT CAST(floor(nrm / 0.25) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(nrm) AS DOUBLE) AS min_norm,
           CAST(MAX(nrm) AS DOUBLE) AS max_norm
    FROM n GROUP BY CAST(floor(nrm / 0.25) AS BIGINT)
    """,
)
def profile_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm histogram (the sanity profile before cosine vs dot
    decisions): left-to-right double fold for the norm — bit-identical to
    the oracle's list_reduce — bucketed at 0.25 width. Narrow scan + one
    tiny aggregate."""
    from cql_xmlpipe_spark.functions.vectors import norm as vnorm

    e = load_table(spark, "embeddings", sf_dir)
    n = e.select("vec_id", vnorm(F.col("embedding")).alias("nrm"))
    return n.groupBy(
        F.floor(F.col("nrm") / 0.25).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@_q(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}'))
                AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_filter(string_split(regexp_replace(lower(text),
                  '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> ''))
                AS INTEGER) AS n_words
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.size(TX.ws_tokens(t)).alias("n_ws_tokens"),
        F.size(TX.bpe_ish_tokens(t)).alias("n_bpe_tokens"),
        F.size(TX.words(t)).alias("n_words"),
    )


_QUALITY_ORACLE = """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(list_reduce(list_prepend(0::BIGINT,
                list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                (a,b) -> a+b) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains(
                ['the','and','of','to','in','is','that','it','for','was'], x)))
                AS DOUBLE) / len(toks) AS stopword_ratio
    FROM t WHERE len(toks) > 0
"""


@_q("text_quality_scores", _QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", "text", toks.alias("toks")).filter(F.size("toks") > 0)
    tok_len_sum = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    punct_removed = F.regexp_replace(F.col("text"), "[.,;:!?]", "")
    return base.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        (tok_len_sum.cast("double") / F.size("toks")).alias("avg_token_len"),
        (
            (F.length("text") - F.length(punct_removed)).cast("double") / F.length("text")
        ).alias("punct_ratio"),
        (
            TX.stopword_hits(F.col("toks"), TX.LANG_STOPWORDS["en"]).cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
    )


_CHAR_ENTROPY_ORACLE = """
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
      FROM documents),
    cc AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(string_split(t, '')) AS c FROM norm)
      GROUP BY doc_id, c),
    agg AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_chars_norm,
             CAST(COUNT(*) AS BIGINT) AS distinct_chars,
             CAST(MAX(cnt) AS BIGINT) AS mx
      FROM cc GROUP BY doc_id)
    SELECT a.doc_id,
           a.n_chars_norm,
           a.distinct_chars,
           CAST(a.mx AS DOUBLE) / CAST(a.n_chars_norm AS DOUBLE)
             AS top_char_frac,
           CAST(SUM(CAST(floor(
                 -((CAST(cc.cnt AS DOUBLE) / CAST(a.n_chars_norm AS DOUBLE))
                   * ln(CAST(cc.cnt AS DOUBLE) / CAST(a.n_chars_norm AS DOUBLE)))
                 * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0
             AS char_entropy_nats
    FROM cc JOIN agg a ON cc.doc_id = a.doc_id
    GROUP BY a.doc_id, a.n_chars_norm, a.distinct_chars, a.mx
"""


@_q("text_char_entropy", _CHAR_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy — the cheap quality signal that
    catches repetitive garbage (low entropy: one char dominates) and
    random noise (entropy ≈ ln(alphabet)) before any tokenizer runs.
    Per doc over an ASCII-folded alphabet (lowercase; anything outside
    [a-z0-9 space] buckets to '#' — pins the two engines to the same
    codepoint segmentation regardless of future corpus unicode):
    normalized length, distinct alphabet size, top-char fraction (exact
    division), and Shannon entropy in nats.

    The entropy is the one transcendental: each −p·ln p term goes
    through the house ×1e9 round-half-up BIGINT quantization (the DSIR
    / bigram-LM device), so the per-doc sum is an exact integer fold —
    order-independent and bit-stable — and the final /1e9 divides
    identical operands. 100 TB shape: explode to (doc, char) —
    map-side-combinable on a ≤38-symbol alphabet per doc, so the
    shuffle carries ~38 rows per document, not characters; the two
    keyed aggregates reuse the same doc_id partitioning."""
    d = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "#")
    cc = (
        d.select("doc_id", F.explode(F.split(norm, "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = cc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_norm"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.max("cnt").alias("mx"),
    )
    p = F.col("cnt").cast("double") / F.col("n_chars_norm").cast("double")
    term_q = F.floor(-(p * F.log(p)) * F.lit(1000000000.0) + F.lit(0.5)).cast("long")
    return (
        cc.join(agg, "doc_id")
        .groupBy("doc_id", "n_chars_norm", "distinct_chars", "mx")
        .agg(F.sum(term_q).alias("ent_q"))
        .select(
            "doc_id",
            "n_chars_norm",
            "distinct_chars",
            (F.col("mx").cast("double") / F.col("n_chars_norm").cast("double"))
            .alias("top_char_frac"),
            (F.col("ent_q").cast("double") / F.lit(1000000000.0))
            .alias("char_entropy_nats"),
        )
    )


_ZLIB_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "zlib_compressibility.parquet",
)

#: DuckDB has no zlib scalar, so z_bytes is pinned by fixture
#: (scripts/make_compressibility_fixture.py recomputes it straight from
#: the parquet texts, no Spark/engine imports); every OTHER column —
#: n_bytes, the ratio, the band classification — is derived in SQL from
#: the fixture's z_bytes, so the gate checks the engine's Column math,
#: not a fixture echo. Same loud drift guard as the other fixtures.
_COMPRESS_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_ZLIB_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL),
    s AS (
      SELECT d.doc_id,
             CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
             f.z_bytes
      FROM documents d
      JOIN read_parquet('{_ZLIB_FIXTURE}') f ON md5(d.text) = f.text_md5)
    SELECT doc_id, n_bytes, z_bytes,
           CAST(z_bytes AS DOUBLE) / n_bytes AS compress_ratio,
           CASE WHEN CAST(z_bytes AS DOUBLE) / n_bytes < 0.4 THEN 'repetitive'
                WHEN CAST(z_bytes AS DOUBLE) / n_bytes > 1.0 THEN 'incompressible'
                ELSE 'normal' END AS band
    FROM s WHERE n_bytes > 0
    UNION ALL
    SELECT CAST(error('zlib compressibility fixture missing ' || n ||
                      ' documents: rerun '
                      || 'scripts/make_compressibility_fixture.py') AS BIGINT),
           NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("text_compressibility", _COMPRESS_ORACLE)
def text_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the CCNet/Gopher-class filter:
    highly compressible text is boilerplate/repetition, a ratio over 1
    is noise/binary junk): zlib level-6 compressed size per document via
    an Arrow-batched scalar pandas UDF (``functions/text.zlib_bytes`` —
    the C zlib hot loop over each Arrow batch; one narrow projection, no
    shuffle, so the signal scans at 100 TB like any other per-document
    column). The band thresholds (0.4 / 1.0) are illustrative cut
    points a pipeline would tune; the oracle recomputes ratio and band
    from the pinned z_bytes so the engine-side math is what's checked."""
    d = load_table(spark, "documents", sf_dir)
    n_bytes = F.octet_length("text").cast("long")
    base = d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        TX.zlib_bytes(F.col("text")).alias("z_bytes"),
    ).filter(F.col("n_bytes") > 0)
    ratio = F.col("z_bytes").cast("double") / F.col("n_bytes")
    return base.select(
        "doc_id",
        "n_bytes",
        "z_bytes",
        ratio.alias("compress_ratio"),
        F.when(ratio < 0.4, "repetitive")
        .when(ratio > 1.0, "incompressible")
        .otherwise("normal")
        .alias("band"),
    )


_REPETITION_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, len(toks) AS n_words,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bi,
             list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
      FROM t WHERE len(toks) >= 3),
    bg AS (
      SELECT doc_id, n_words, gram, COUNT(*) AS c
      FROM (SELECT doc_id, n_words, unnest(bi) AS gram FROM b)
      GROUP BY doc_id, n_words, gram),
    tg AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(tri) AS gram FROM b)
      GROUP BY doc_id, gram),
    bstat AS (
      SELECT doc_id, n_words,
             CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
      FROM bg GROUP BY doc_id, n_words),
    tstat AS (
      SELECT doc_id,
             CAST(SUM(c) FILTER (c > 1) AS DOUBLE) / SUM(c) AS dup_trigram_frac
      FROM tg GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_words AS INTEGER) AS n_words,
           b.top_bigram_frac,
           COALESCE(t.dup_trigram_frac, 0.0) AS dup_trigram_frac
    FROM bstat b JOIN tstat t USING (doc_id)
"""


@_q("text_repetition_scores", _REPETITION_ORACLE)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: fraction of all bigrams
    taken by the single most frequent bigram, and fraction of trigram
    occurrences that are duplicates (the published repetition-removal
    rules filter docs above thresholds on exactly these ratios). Shape:
    gram strings are hashed to 8-byte xxhash64 BEFORE the shuffle (the
    same discipline as every dedup operator — counts are over hashes;
    collisions are ~n²/2⁶⁴ and the corpus is fixed), so the one shuffle
    on (doc_id, gram-hash) carries only longs; then one re-aggregate per
    doc — linear in corpus size, no joins back to text."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)
    bi = TX.ngrams(F.col("toks"), 2)
    tri = TX.ngrams(F.col("toks"), 3)
    grams = base.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.explode(
            F.concat(
                F.transform(bi, lambda g: F.struct(F.lit(2).alias("n"), F.xxhash64(g).alias("g"))),
                F.transform(tri, lambda g: F.struct(F.lit(3).alias("n"), F.xxhash64(g).alias("g"))),
            )
        ).alias("e"),
    ).select("doc_id", "n_words", F.col("e.n").alias("n"), F.col("e.g").alias("gh"))
    counts = grams.groupBy("doc_id", "n_words", "n", "gh").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = counts.groupBy("doc_id", "n_words", "n").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("tot_c"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup_c"),
    )
    bi_stat = per_doc.filter(F.col("n") == 2).select(
        "doc_id", "n_words",
        (F.col("max_c").cast("double") / F.col("tot_c")).alias("top_bigram_frac"),
    )
    tri_stat = per_doc.filter(F.col("n") == 3).select(
        "doc_id",
        (F.col("dup_c").cast("double") / F.col("tot_c")).alias("dup_trigram_frac"),
    )
    return bi_stat.join(tri_stat, "doc_id").select(
        "doc_id", "n_words", "top_bigram_frac", "dup_trigram_frac"
    )


_CROSSDOC_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
             i -> array_to_string(toks[i:i+7], ' '))) AS gram
      FROM t WHERE len(toks) >= 8),
    dup AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram)
      WHERE n_docs >= 2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (gram IN (SELECT gram FROM dup)) AS BIGINT)
             AS cross_dup_grams,
           CAST(COUNT(*) FILTER (gram IN (SELECT gram FROM dup)) AS DOUBLE)
             / COUNT(*) AS cross_dup_frac
    FROM g GROUP BY doc_id
"""


@_q("text_crossdoc_ngram_dup", _CROSSDOC_ORACLE)
def text_crossdoc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-substring signal (the fixed-n
    approximation of exact-substring training-data dedup): per document,
    how many of its 8-gram positions occur in at least one OTHER
    document. 100 TB shape: gram strings never shuffle — positions carry
    an 8-byte xxhash64; the distinct (doc, hash) projection feeds a
    docs-per-hash count, and only hashes seen in ≥2 docs join back
    against the position stream (AQE broadcasts that side when the
    duplicated-gram set is small, the common case)."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 8)
    # persist the compact (doc_id, 8-byte hash) position stream (r15,
    # guide §1.2): it feeds BOTH the duplicated-hash aggregate and the
    # flagging join, and without the pin the tokenize+explode pass over
    # the full text ran twice (one scan per join input — Spark shares no
    # common subtrees across join sides). 16 bytes/position cached vs a
    # second full tokenization of the corpus — the same trade the dedup
    # staging makes; spills to disk past memory at scale.
    with DD.Staging() as st:
        grams = st.pin(base.select(
            "doc_id",
            F.explode(TX.ngrams(F.col("toks"), 8)).alias("gram"),
        ).select("doc_id", F.xxhash64("gram").alias("h")))
        dup_h = (
            grams.select("doc_id", "h")
            .distinct()
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= 2)
            .select("h")
        )
        flagged = grams.join(dup_h.withColumn("is_dup", F.lit(1)), "h", "left")
        out = flagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)).cast("long")).alias("cross_dup_grams"),
        ).select(
            "doc_id",
            "n_grams",
            "cross_dup_grams",
            (F.col("cross_dup_grams").cast("double") / F.col("n_grams")).alias("cross_dup_frac"),
        )
        return st.own(out)


_DUP_SPANS_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
            FROM t WHERE len(toks) >= 8)),
    d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
    m AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > 8 THEN 1 ELSE 0 END AS brk
      FROM p),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM m)
    SELECT doc_id,
           CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos) + 7 AS INTEGER) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS span_tokens
    FROM isl GROUP BY doc_id, island
"""


@_q("text_dup_spans", _DUP_SPANS_ORACLE)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-SPAN extraction — the interval form of
    exact-substring training-data dedup (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better': remove every repeated
    ≥k-token span, not whole documents): per document, the MAXIMAL token
    intervals covered by 8-grams that occur ≥2 times anywhere in the
    corpus (cross-document or within-document — repetition inside one
    doc is equally removable). ``text_crossdoc_ngram_dup`` reports the
    per-doc dup FRACTION; this emits the actual (span_start, span_end)
    intervals a pipeline would cut or keep-first.

    Span algebra: a duplicated gram at position p covers tokens
    [p, p+7]; sorted positions within a doc merge while the gap to the
    previous duplicated position is ≤ 8 (adjacent coverage stays one
    contiguous cut region), split otherwise — the gaps-and-islands
    window pattern, identical in the oracle.

    100 TB shape: gram strings never shuffle (positions carry an 8-byte
    xxhash64, same as text_crossdoc_ngram_dup); the duplicated-hash set
    is the output of one hash-keyed count and semi-joins back against
    the (doc, pos, hash) stream (AQE broadcasts it when small — the
    common case); the island assembly is one window over each doc's own
    duplicated positions — partition-local work, output linear in
    duplicated-span count."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 8)
    # persist the (doc_id, pos, hash) position stream — it feeds the
    # duplicated-hash aggregate AND the semi-join back; same one-tokenize
    # device as text_crossdoc_ngram_dup (r15, guide §1.2)
    with DD.Staging() as st:
        grams = st.pin(base.select(
            "doc_id", F.posexplode(TX.ngrams(F.col("toks"), 8)).alias("pos", "gram")
        ).select("doc_id", "pos", F.xxhash64("gram").alias("h")))
        dup_h = (
            grams.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
            .select("h")
        )
        p = grams.join(dup_h, "h", "left_semi").select("doc_id", "pos")
        w = Window.partitionBy("doc_id").orderBy("pos")
        brk = F.when(F.col("pos") - F.lag("pos").over(w) > 8, 1).otherwise(0)
        isl = p.withColumn("brk", brk).withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        out = (
            isl.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
            .select(
                "doc_id",
                F.col("_s").cast("int").alias("span_start"),
                (F.col("_e") + 7).cast("int").alias("span_end"),
                (F.col("_e") + 8 - F.col("_s")).cast("int").alias("span_tokens"),
            )
        )
        return st.own(out)


_DUP_REMOVAL_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
            FROM t WHERE len(toks) >= 8)),
    cut AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM g) WHERE rn >= 2),
    cut_idx AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx FROM cut),
    tok AS (
      SELECT doc_id, toks[i] AS tok, i - 1 AS idx
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
            FROM t)),
    kept AS (
      SELECT tok.doc_id, tok.tok, tok.idx
      FROM tok LEFT JOIN cut_idx
        ON tok.doc_id = cut_idx.doc_id AND tok.idx = cut_idx.idx
      WHERE cut_idx.doc_id IS NULL)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_cut_tokens,
           COALESCE(k.text_deduped, '') AS text_deduped
    FROM t LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS text_deduped
      FROM kept GROUP BY doc_id) k USING (doc_id)
    WHERE len(t.toks) > 0
"""


@_q("text_dup_span_removal", _DUP_REMOVAL_ORACLE)
def text_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-FIRST substring deduplication — the transform Lee et al.
    2022 actually apply to the training corpus (where
    ``text_dup_spans`` only reports the intervals): every occurrence of
    a duplicated 8-gram EXCEPT the globally first (smallest
    (doc_id, pos)) is cut, the union of the cut grams' [p, p+7] token
    coverage is removed, and the surviving tokens re-join as
    ``text_deduped``. One occurrence of every repeated passage survives
    corpus-wide — cross-document AND within-document.

    The cut set is 'every occurrence that is not its gram's global
    minimum': computed as a hash-keyed MIN(struct(doc_id, pos)) + COUNT
    aggregate joined back against the occurrence stream — deliberately
    NOT a row_number window, which would single-partition-SORT a hot
    gram's occurrences (one boilerplate passage in 10⁸ documents = one
    unsortable partition); min/count are partially aggregable map-side,
    so the hot key costs one combiner cell, and the join back fans out
    linearly in occurrences. 100 TB shape: gram strings never shuffle
    (8-byte xxhash64 keys; same collision-probability stance as
    text_crossdoc_ngram_dup), the cut-coverage explode is ≤ 8 rows per
    cut position, and the token-keep anti-join plus the ordered
    reassembly (sort_array over (idx, tok) structs — no window) are
    both per-doc local. Output is one row per non-empty document."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    grams = (
        base.filter(F.size("toks") >= 8)
        .select(
            "doc_id", F.posexplode(TX.ngrams(F.col("toks"), 8)).alias("pos", "gram")
        )
        .select("doc_id", "pos", F.xxhash64("gram").alias("h"))
    )
    firsts = grams.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first"),
        F.count(F.lit(1)).alias("_n"),
    ).filter(F.col("_n") >= 2)
    cut = (
        grams.join(firsts, "h")
        .filter(F.struct("doc_id", "pos") != F.col("_first"))
        .select("doc_id", F.explode(F.sequence("pos", F.col("pos") + 7)).alias("idx"))
        .distinct()
    )
    tok = base.select(
        "doc_id", F.posexplode("toks").alias("idx", "tok")
    )
    kept = tok.join(cut, ["doc_id", "idx"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_deduped"),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_cut_tokens"
            ),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


def _langid_oracle() -> str:
    hits = {
        lang: (
            "len(list_filter(toks, x -> list_contains(["
            + ",".join(f"'{s}'" for s in stops)
            + "], x)))"
        )
        for lang, stops in TX.LANG_STOPWORDS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           CAST({hits['en']} AS INTEGER) AS s_en,
           CAST({hits['de']} AS INTEGER) AS s_de,
           CAST({hits['fr']} AS INTEGER) AS s_fr,
           CAST({hits['es']} AS INTEGER) AS s_es,
           CASE
             WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']}
                  AND {hits['en']} >= {hits['es']} THEN 'en'
             WHEN {hits['de']} >= {hits['fr']} AND {hits['de']} >= {hits['es']} THEN 'de'
             WHEN {hits['fr']} >= {hits['es']} THEN 'fr'
             ELSE 'es'
           END AS predicted_lang
    FROM t
    """


@_q("text_langid_heuristic", _langid_oracle())
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", TX.words(F.col("text")).alias("toks"))
    scores = {k: TX.stopword_hits(F.col("toks"), v) for k, v in TX.LANG_STOPWORDS.items()}
    predicted = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"]),
            "en",
        )
        .when((scores["de"] >= scores["fr"]) & (scores["de"] >= scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    return base.select(
        "doc_id",
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
        predicted.alias("predicted_lang"),
    )


_STRATA_HEX = {"F": "('0','1')", "O": "('0','1','2','3')", "P": "('0','1','2','3','4','5','6','7')"}


@_q(
    "stratified_sample_orders",
    f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE (o_orderstatus = 'F' AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
             IN {_STRATA_HEX['F']})
       OR (o_orderstatus = 'O' AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
             IN {_STRATA_HEX['O']})
       OR (o_orderstatus = 'P' AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
             IN {_STRATA_HEX['P']})
    """,
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — different rate per stratum
    (F 12.5%, O 25%, P 50%) via the key-hash technique: stable across
    engines, runs, and partition layouts, unlike sampleBy(seed) which is
    partition-dependent. At 100 TB this stays a narrow filter (no shuffle,
    no per-stratum pass); rates tune by widening the hex-prefix set."""
    o = load_table(spark, "orders", sf_dir)
    first = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    keep = (
        ((F.col("o_orderstatus") == "F") & first.isin("0", "1"))
        | ((F.col("o_orderstatus") == "O") & first.isin("0", "1", "2", "3"))
        | ((F.col("o_orderstatus") == "P") & first.isin(*"01234567"))
    )
    return o.filter(keep).select("o_orderkey", "o_orderstatus", "o_totalprice")


def _corpus_prep_oracle() -> str:
    hits = {
        lang: (
            "len(list_filter(toks, x -> list_contains(["
            + ",".join(f"'{s}'" for s in stops)
            + "], x)))"
        )
        for lang, stops in TX.LANG_STOPWORDS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    q AS (
      SELECT doc_id, text, toks,
             CASE
               WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']}
                    AND {hits['en']} >= {hits['es']} THEN 'en'
               WHEN {hits['de']} >= {hits['fr']} AND {hits['de']} >= {hits['es']} THEN 'de'
               WHEN {hits['fr']} >= {hits['es']} THEN 'fr'
               ELSE 'es'
             END AS predicted_lang
      FROM t WHERE len(toks) >= 10),
    d AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM q)
    SELECT predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM d WHERE doc_id = keep_id
    GROUP BY predicted_lang
    """


@_q("corpus_prep_pipeline", _corpus_prep_oracle())
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep in ONE declarative plan: tokenize →
    quality gate (≥10 tokens) → language-ID → exact dedup (min-id survivor
    per content hash) → per-language corpus stats. The operators compose
    without materialization barriers, so Catalyst fuses tokenize+filter+
    langid into the scan stage; the only shuffles are the dedup window
    (32-byte md5 keys) and the final tiny group-by — the shape this
    pipeline keeps at 100 TB."""
    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", "text", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 10
    )
    scores = {k: TX.stopword_hits(F.col("toks"), v) for k, v in TX.LANG_STOPWORDS.items()}
    predicted = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"]),
            "en",
        )
        .when((scores["de"] >= scores["fr"]) & (scores["de"] >= scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    from pyspark.sql import Window as W

    tagged = base.withColumn("predicted_lang", predicted).withColumn(
        "keep_id", F.min("doc_id").over(W.partitionBy(F.md5("text")))
    )
    return (
        tagged.filter(F.col("doc_id") == F.col("keep_id"))
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks").cast("long")).alias("n_tokens"),
            F.sum(F.length("text").cast("long")).alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal manifest (binary-column plumbing; decode stubs live in
# operators/multimodal.py)
# ---------------------------------------------------------------------------


@_q(
    "multimodal_manifest",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                           ELSE 'video' END AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           CAST(doc_id % 640 + 1 AS INTEGER) AS width,
           CAST(doc_id % 480 + 1 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload manifest: documents' text bytes stand in for opaque
    media blobs; typed metadata extraction stays engine-side."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
    )


_FAKE_IMG_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "fake_image_features.parquet",
)

#: Oracle for the DEFAULT (codec-free) decode path via pinned fixture
#: (scripts/make_fake_image_features_fixture.py): the fake pixels are a
#: deterministic spec (RandomState seeded from sha256(payload)), so the
#: fixture recomputes the features out-of-band — straight from the
#: parquet, no Spark — and the gate pins the mapInPandas plumbing
#: (modality routing, Arrow batching, schema, per-row math). Keyed by
#: (doc_id, md5(text)) because width/height derive from doc_id; same
#: loud UNION ALL drift guard as the simhash fixture.
_FAKE_IMG_ORACLE = f"""
    WITH imgs AS (
      SELECT doc_id, md5(text) AS tmd5 FROM documents WHERE doc_id % 3 = 0),
    miss AS (
      SELECT COUNT(*) AS n FROM imgs i
      LEFT JOIN read_parquet('{_FAKE_IMG_FIXTURE}') f
        ON i.doc_id = f.doc_id AND i.tmd5 = f.text_md5
      WHERE f.doc_id IS NULL)
    SELECT i.doc_id, f.width, f.height, f.mean_r, f.mean_g, f.mean_b,
           f.sharpness
    FROM imgs i JOIN read_parquet('{_FAKE_IMG_FIXTURE}') f
      ON i.doc_id = f.doc_id AND i.tmd5 = f.text_md5
    UNION ALL
    SELECT CAST(error('fake image features fixture missing ' || n ||
                      ' documents: rerun '
                      || 'scripts/make_fake_image_features_fixture.py')
                AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_image_features", _FAKE_IMG_ORACLE)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode path, DEFAULT (codec-free)
    variant: deterministic hash-derived pixel stats. Hash-gated since
    round 7 against an out-of-band recompute of the pixel spec (see
    _FAKE_IMG_ORACLE); the codec-TRUE path is separately gated by
    multimodal_image_features_codec."""
    from cql_xmlpipe_spark.operators.multimodal import (
        attach_media_columns,
        decode_image_features,
    )

    media = attach_media_columns(load_table(spark, "documents", sf_dir))
    return decode_image_features(media)


@_q(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           CAST(ts // 5000 AS INTEGER) AS frame_idx,
           CAST(ts AS INTEGER) AS ts_ms
    FROM (
      SELECT doc_id,
             unnest(range(0, greatest(doc_id % 30000, 1), 5000)) AS ts
      FROM documents WHERE doc_id % 3 = 2)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame-sampling fan-out via mapInPandas. The sampling grid
    (which timestamps, per-doc fan-out) is fully SQL-expressible, so the
    oracle recomputes it exactly; the placeholder frame digest is checked
    separately by ``multimodal_frame_sample_digest``."""
    from cql_xmlpipe_spark.operators.multimodal import (
        attach_media_columns,
        sample_video_frames,
    )

    media = attach_media_columns(load_table(spark, "documents", sf_dir))
    return sample_video_frames(media, every_ms=5000).drop("frame")


@_q(
    "multimodal_frame_sample_digest",
    """
    SELECT doc_id,
           CAST(ts // 5000 AS INTEGER) AS frame_idx,
           CAST(ts AS INTEGER) AS ts_ms,
           sha256(text || ':' || CAST(ts AS VARCHAR)) AS frame_hex
    FROM (
      SELECT doc_id, text,
             unnest(range(0, greatest(doc_id % 30000, 1), 5000)) AS ts
      FROM documents WHERE doc_id % 3 = 2)
    """,
)
def multimodal_frame_sample_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling including the deterministic placeholder digest:
    the stub frame is sha256 over UTF-8-safe bytes (payload ':' ts)
    precisely so DuckDB's VARCHAR-only sha256 can recompute it — pinning
    the full mapInPandas output, not just the fan-out grid."""
    from cql_xmlpipe_spark.operators.multimodal import (
        attach_media_columns,
        sample_video_frames,
    )

    media = attach_media_columns(load_table(spark, "documents", sf_dir))
    frames = sample_video_frames(media, every_ms=5000)
    return frames.select(
        "doc_id", "frame_idx", "ts_ms", F.lower(F.hex("frame")).alias("frame_hex")
    )


_AVI_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "avi_frame_samples.parquet",
)

#: Codec-true video oracle via pinned fixture (scripts/
#: make_avi_frames_fixture.py): the seek grid is RESTATED straight on
#: the synthesized frame arrays and each sampled frame's sha256 comes
#: from the ORIGINAL pixels (no codec round-trip) — so the gate only
#: passes if encode_avi→decode_avi is bit-lossless AND the engine's
#: seek rule matches — while payload_md5 comes from an independent
#: RIFF/AVI assembly, byte-pinning the encoder. Same loud drift guard
#: as the BMP/WAV fixtures.
_AVI_CODEC_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN (SELECT DISTINCT text_md5 FROM read_parquet('{_AVI_FIXTURE}')) f
        ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT d.doc_id, f.payload_md5, f.frame_idx, f.ts_ms, f.frame_hex
    FROM documents d
    JOIN read_parquet('{_AVI_FIXTURE}') f ON md5(d.text) = f.text_md5
    UNION ALL
    SELECT CAST(error('avi frame-sample fixture missing ' || n ||
                      ' documents: rerun scripts/make_avi_frames_fixture.py')
                AS BIGINT), NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_frame_sample_codec", _AVI_CODEC_ORACLE)
def multimodal_frame_sample_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-TRUE video frame sampling: deterministic RGB frames derived
    from each document's text are encoded as genuine uncompressed RGB24
    AVI (functions/avicodec.encode_avi) and the real ``use_codec=True``
    path decodes the container, walks the 300 ms seek grid and digests
    the frame on screen at each instant — no placeholder digest
    anywhere; the video sibling of multimodal_image_features_codec /
    multimodal_audio_features_codec, closing the last fake-only
    modality for an in-container format (MP4/H.264 still honestly
    raises — that genuinely needs ffmpeg). ``payload_md5`` additionally
    byte-pins the encoder against the fixture's independent RIFF
    assembly. Both mapInPandas passes keep payloads executor-side; the
    final join is a doc_id equi-join of two narrow tables."""
    from cql_xmlpipe_spark.operators.multimodal import (
        sample_video_frames,
        synthesize_avi_media,
    )

    d = load_table(spark, "documents", sf_dir)
    with DD.Staging() as st:
        # pin: the sampler and the payload-md5 audit both consume the
        # synthesized payloads; without it frame synthesis + AVI encode (the
        # dominant cost) executes twice
        media = st.pin(synthesize_avi_media(d))
        frames = sample_video_frames(media, every_ms=300, use_codec=True)
        sigs = media.select("doc_id", F.md5("payload").alias("payload_md5"))
        out = frames.join(sigs, "doc_id").select(
            "doc_id",
            "payload_md5",
            "frame_idx",
            "ts_ms",
            F.lower(F.hex("frame")).alias("frame_hex"),
        )
        return st.own(out)


_AVI_FEAT_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "avi_video_features.parquet",
)

#: Codec-true video FEATURES oracle: same fixture discipline — features
#: restated straight on the synthesized frames, payload_md5 from the
#: independent RIFF assembly, loud drift guard.
_AVI_FEAT_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_AVI_FEAT_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT d.doc_id, f.payload_md5, f.n_frames, f.fps, f.duration_ms,
           f.width, f.height, f.mean_luma, f.motion
    FROM documents d
    JOIN read_parquet('{_AVI_FEAT_FIXTURE}') f ON md5(d.text) = f.text_md5
    UNION ALL
    SELECT CAST(error('avi video-features fixture missing ' || n ||
                      ' documents: rerun scripts/make_avi_frames_fixture.py')
                AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_video_features_codec", _AVI_FEAT_ORACLE)
def multimodal_video_features_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-TRUE video feature extraction: decode the real AVI container
    and compute frame count / rate / geometry / stack mean-luma /
    mean-absolute-frame-difference MOTION — the static-vs-dynamic
    content signal a video curation pass filters on — completing the
    feature-consumer trio (image stats, audio stats, video stats) over
    real in-container decodes. Fixture-gated with the digests' fixture
    discipline: features never pass through the codec on the oracle
    side, payload_md5 byte-pins the encoder."""
    from cql_xmlpipe_spark.operators.multimodal import (
        decode_video_features,
        synthesize_avi_media,
    )

    d = load_table(spark, "documents", sf_dir)
    with DD.Staging() as st:
        media = st.pin(synthesize_avi_media(d))
        feats = decode_video_features(media, use_codec=True)
        sigs = media.select("doc_id", F.md5("payload").alias("payload_md5"))
        out = feats.join(sigs, "doc_id").select(
            "doc_id", "payload_md5", "n_frames", "fps", "duration_ms",
            "width", "height", "mean_luma", "motion",
        )
        return st.own(out)


_BMP_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "bmp_image_features.parquet",
)

#: Codec-true oracle via pinned fixture (scripts/make_bmp_features_fixture
#: .py): features computed straight from the synthesized pixels (no codec
#: round-trip) and payload_md5 from an independent struct-pack BMP
#: encoder — so the gate byte-pins encode_bmp AND pixel-pins decode_bmp.
#: Same loud UNION ALL drift guard as the simhash fixture.
_BMP_CODEC_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_BMP_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT d.doc_id, f.payload_md5, f.width, f.height,
           f.mean_r, f.mean_g, f.mean_b, f.sharpness
    FROM documents d
    JOIN read_parquet('{_BMP_FIXTURE}') f ON md5(d.text) = f.text_md5
    UNION ALL
    SELECT CAST(error('bmp features fixture missing ' || n ||
                      ' documents: rerun scripts/make_bmp_features_fixture.py')
                AS BIGINT),
           NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_image_features_codec", _BMP_CODEC_ORACLE)
def multimodal_image_features_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-TRUE image feature extraction: deterministic pixels derived
    from each document's text are encoded as genuine 24-bit BMP
    (functions/bmpcodec.encode_bmp) and decoded back by the real
    ``use_codec=True`` path before the feature math runs — no fake
    decode anywhere. ``payload_md5`` additionally byte-pins the encoder
    against the fixture's independent encoder. Both mapInPandas passes
    keep payloads executor-side; the final join is a doc_id equi-join of
    two narrow feature tables (AQE broadcasts the small side at gate
    scale; at 100 TB both sides are already co-partitioned by the same
    upstream scan)."""
    from cql_xmlpipe_spark.operators.multimodal import (
        decode_image_features,
        synthesize_bmp_media,
    )

    d = load_table(spark, "documents", sf_dir)
    with DD.Staging() as st:
        # pin: feats and sigs are two independent consumers of the
        # synthesized payloads; without this the pixel synthesis + BMP
        # encode (the dominant cost) executes twice
        media = st.pin(synthesize_bmp_media(d))
        feats = decode_image_features(media, use_codec=True)
        sigs = media.select("doc_id", F.md5("payload").alias("payload_md5"))
        return st.own(feats.join(sigs, "doc_id").select(
            "doc_id", "payload_md5", "width", "height",
            "mean_r", "mean_g", "mean_b", "sharpness",
        ))


_FAKE_AUDIO_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "fake_audio_features.parquet",
)

#: Oracle for the DEFAULT (codec-free) audio decode path via pinned
#: fixture (scripts/make_wav_features_fixture.py): the fake samples are a
#: deterministic spec (RandomState seeded from sha256(payload)), restated
#: independently by the fixture script — so the gate pins the mapInPandas
#: plumbing (modality routing, Arrow batching, schema, per-clip math).
#: Keyed by md5(text) (the fake payload IS the text bytes); same loud
#: UNION ALL drift guard as the image fixtures.
_FAKE_AUDIO_ORACLE = f"""
    WITH clips AS (
      SELECT doc_id, md5(text) AS tmd5 FROM documents WHERE doc_id % 3 = 1),
    miss AS (
      SELECT COUNT(*) AS n FROM clips c
      LEFT JOIN read_parquet('{_FAKE_AUDIO_FIXTURE}') f ON c.tmd5 = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT c.doc_id, f.sample_rate, f.n_samples, f.duration_ms, f.rms,
           f.peak, f.zero_cross_rate
    FROM clips c JOIN read_parquet('{_FAKE_AUDIO_FIXTURE}') f
      ON c.tmd5 = f.text_md5
    UNION ALL
    SELECT CAST(error('fake audio features fixture missing ' || n ||
                      ' documents: rerun scripts/make_wav_features_fixture.py')
                AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_audio_features", _FAKE_AUDIO_ORACLE)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas audio decode path, DEFAULT (codec-free)
    variant: deterministic hash-derived sample stats (duration / RMS /
    peak / zero-crossing rate) — the audio sibling of
    multimodal_image_features, giving the 'audio' third of
    attach_media_columns a first-class consumer. Hash-gated against an
    out-of-band recompute of the sample spec (see _FAKE_AUDIO_ORACLE);
    the codec-TRUE path is separately gated by
    multimodal_audio_features_codec."""
    from cql_xmlpipe_spark.operators.multimodal import (
        attach_media_columns,
        decode_audio_features,
    )

    media = attach_media_columns(load_table(spark, "documents", sf_dir))
    return decode_audio_features(media)


_WAV_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "wav_audio_features.parquet",
)

#: Codec-true audio oracle via pinned fixture (scripts/
#: make_wav_features_fixture.py): features computed straight from the
#: synthesized samples (no codec round-trip) and payload_md5 from the
#: INDEPENDENT stdlib-``wave`` encoder — so the gate byte-pins encode_wav
#: AND sample-pins decode_wav. Same loud drift guard as the BMP fixture.
_WAV_CODEC_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_WAV_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT d.doc_id, f.payload_md5, f.sample_rate, f.n_samples,
           f.duration_ms, f.rms, f.peak, f.zero_cross_rate
    FROM documents d
    JOIN read_parquet('{_WAV_FIXTURE}') f ON md5(d.text) = f.text_md5
    UNION ALL
    SELECT CAST(error('wav features fixture missing ' || n ||
                      ' documents: rerun scripts/make_wav_features_fixture.py')
                AS BIGINT),
           NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_audio_features_codec", _WAV_CODEC_ORACLE)
def multimodal_audio_features_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-TRUE audio feature extraction: deterministic PCM16 samples
    derived from each document's text are encoded as genuine mono WAV
    (functions/wavcodec.encode_wav) and decoded back by the real
    ``use_codec=True`` path before the feature math runs — no fake
    decode anywhere; the audio sibling of
    multimodal_image_features_codec. ``payload_md5`` additionally
    byte-pins the encoder against the fixture's independent stdlib-wave
    encoder. Both mapInPandas passes keep payloads executor-side; the
    final join is a doc_id equi-join of two narrow feature tables (AQE
    broadcasts the small side at gate scale; at 100 TB both sides are
    already co-partitioned by the same upstream scan)."""
    from cql_xmlpipe_spark.operators.multimodal import (
        decode_audio_features,
        synthesize_wav_media,
    )

    d = load_table(spark, "documents", sf_dir)
    with DD.Staging() as st:
        # pin: feats and sigs are two independent consumers of the
        # synthesized payloads; without this the sample synthesis + WAV
        # encode (the dominant cost) executes twice
        media = st.pin(synthesize_wav_media(d))
        feats = decode_audio_features(media, use_codec=True)
        sigs = media.select("doc_id", F.md5("payload").alias("payload_md5"))
        return st.own(feats.join(sigs, "doc_id").select(
            "doc_id", "payload_md5", "sample_rate", "n_samples",
            "duration_ms", "rms", "peak", "zero_cross_rate",
        ))


_WAV_RS_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "wav_resample16k.parquet",
)

#: Resample-chain oracle via pinned fixture: the nearest-neighbor grid
#: rule is RESTATED by the fixture script straight on the synthesized
#: samples and the resampled payload re-encoded with the independent
#: stdlib-wave encoder — so the gate pins decode→resample→re-encode
#: end to end, including the output bytes. Same loud drift guard.
_WAV_RS_ORACLE = f"""
    WITH miss AS (
      SELECT COUNT(*) AS n
      FROM documents d
      LEFT JOIN read_parquet('{_WAV_RS_FIXTURE}') f ON md5(d.text) = f.text_md5
      WHERE f.text_md5 IS NULL)
    SELECT d.doc_id, f.payload_md5, CAST(16000 AS INTEGER) AS sample_rate,
           f.n_samples
    FROM documents d
    JOIN read_parquet('{_WAV_RS_FIXTURE}') f ON md5(d.text) = f.text_md5
    UNION ALL
    SELECT CAST(error('wav resample fixture missing ' || n ||
                      ' documents: rerun scripts/make_wav_features_fixture.py')
                AS BIGINT),
           NULL, NULL, NULL
    FROM miss WHERE n > 0
"""


@_q("multimodal_audio_resample_codec", _WAV_RS_ORACLE)
def multimodal_audio_resample_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-TRUE audio rate conversion: synthesized WAV payloads are
    decoded, nearest-neighbor-resampled to 16 kHz and RE-ENCODED inside
    one Arrow batch loop (``operators/multimodal.resample_audio`` —
    the audio sibling of the image resize path), and the gate pins the
    OUTPUT BYTES (md5 of the re-encoded payload) against the fixture's
    independent grid + stdlib-wave recompute — so decode, the grid
    math, and the encoder are all on the hook, end to end. Payloads
    never leave the executors; the emitted rows are narrow
    (id, md5, rate, count)."""
    from cql_xmlpipe_spark.operators.multimodal import (
        resample_audio,
        synthesize_wav_media,
    )

    d = load_table(spark, "documents", sf_dir)
    out = resample_audio(synthesize_wav_media(d), 16000, use_codec=True)
    return out.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        "sample_rate",
        "n_samples",
    )


# ---------------------------------------------------------------------------
# Decontamination — eval-set n-gram overlap flagging
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
             i -> array_to_string(toks[i:i+7], ' '))) AS gram
      FROM t WHERE len(toks) >= 8),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 4 = 0)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (gram IN (SELECT gram FROM ev)) AS BIGINT)
             AS contam_grams,
           CAST(COUNT(*) FILTER (gram IN (SELECT gram FROM ev)) AS DOUBLE)
             / COUNT(*) AS contam_frac,
           COUNT(*) FILTER (gram IN (SELECT gram FROM ev)) > 0
             AS is_contaminated
    FROM g WHERE doc_id % 4 <> 0
    GROUP BY doc_id
"""


@_q("text_decontaminate_eval_overlap", _DECONTAM_ORACLE)
def text_decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the training-pipeline op that removes
    eval-set leakage before training): per training document, how many of
    its 8-gram positions appear in ANY evaluation document, plus the
    resulting drop flag. The "benchmark" here is the deterministic
    ``doc_id % 4 == 0`` slice of the corpus (chosen so the slice provably intersects the corpus's duplicate groups at every gate sf — the positive flagging path executes, not just the zero path) — in production it is a
    separate, tiny table, which only strengthens the shape below.

    100 TB shape: gram strings never cross a shuffle — positions carry
    xxhash64 longs (collision-free at any realistic corpus size for a
    64-bit space, and the DuckDB oracle compares the true strings, so a
    collision would fail the gate rather than hide); the eval side
    reduces to a DISTINCT hash set (benchmarks are bounded: thousands of
    docs, not billions) that BROADCASTS to the training-position stream,
    so the flagging pass is one scan + map-side hash-set probe with zero
    training-side shuffles before the per-doc aggregate."""
    d = load_table(spark, "documents", sf_dir)
    base = d.select("doc_id", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 8
    )
    grams = base.select(
        "doc_id", F.explode(TX.ngrams(F.col("toks"), 8)).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("h"))
    eval_h = (
        grams.filter(F.col("doc_id") % 4 == 0).select("h").distinct()
    )
    train = grams.filter(F.col("doc_id") % 4 != 0)
    flagged = train.join(
        F.broadcast(eval_h.withColumn("hit", F.lit(1))), "h", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("long")).alias("contam_grams"),
    ).select(
        "doc_id",
        "n_grams",
        "contam_grams",
        (F.col("contam_grams").cast("double") / F.col("n_grams")).alias("contam_frac"),
        (F.col("contam_grams") > 0).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# corpus mixture planning + split leakage audit
# ---------------------------------------------------------------------------


@_q(
    "corpus_mix_weights",
    """
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                          x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_src)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
             AS token_frac,
           CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE)
             AS mix_weight
    FROM per_src, tot
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning (the op a training pipeline runs to rebalance
    source domains): per source, token mass and the up/down-sampling
    weight that equalizes the mixture (weight = uniform-share /
    actual-share). All counts are exact int64 aggregates; the two output
    ratios divide the same pair of integers-as-doubles on both engines —
    bit-stable with no decimal hop needed. 100 TB shape: one map-side-
    combined aggregate keyed on the (low-cardinality) source column plus
    a 1-row broadcast cross join for the totals; the weights table this
    emits is exactly what a sampler broadcasts back against the corpus."""
    d = load_table(spark, "documents", sf_dir)
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.ws_tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double"))
        .alias("token_frac"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens")).cast("double")
        ).alias("mix_weight"),
    )


@_q(
    "dataset_split_leakage",
    """
    WITH tagged AS (
      SELECT md5(text) AS th,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               BETWEEN '0' AND '7' AS in_train
      FROM documents),
    groups AS (
      SELECT th,
             CAST(SUM(CASE WHEN in_train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(SUM(CASE WHEN in_train THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dev
      FROM tagged GROUP BY th)
    SELECT CAST(SUM(n_train) AS BIGINT) AS train_docs,
           CAST(SUM(n_dev) AS BIGINT) AS dev_docs,
           CAST(COUNT(*) FILTER (n_train > 0 AND n_dev > 0) AS BIGINT)
             AS leaky_text_groups,
           CAST(SUM(CASE WHEN n_train > 0 AND n_dev > 0
                         THEN n_train + n_dev ELSE 0 END) AS BIGINT)
             AS leaky_docs
    FROM groups
    """,
)
def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split assignment + leakage audit (the check a pipeline runs after
    carving train/dev: did any *identical text* land on both sides of
    the split?). The split is a cross-engine-portable hash rule —
    first hex digit of md5(doc_id) in 0-7 → train (~50%) — so both
    engines assign identically; the audit groups by md5(text) (32-byte
    shuffle keys, never text) and counts groups straddling the split.
    Liveness: sf0.001/sf0.01 contain no exact-duplicate texts at all, so
    zero leakage IS the correct answer there; at sf0.1 the corpus's 8
    exact-dup groups put 3 groups astride this split and the detector
    fires (verified in the sf0.1 oracle run). 100 TB shape: one
    hash-keyed aggregate plus a 1-row rollup — the same discipline as
    dedup_exact_hash_groups."""
    d = load_table(spark, "documents", sf_dir)
    tagged = d.select(
        F.md5("text").alias("th"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .between("0", "7")
        .alias("in_train"),
    )
    groups = tagged.groupBy("th").agg(
        F.sum(F.when(F.col("in_train"), 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("in_train"), 0).otherwise(1)).cast("long").alias("n_dev"),
    )
    leaky = (F.col("n_train") > 0) & (F.col("n_dev") > 0)
    return groups.agg(
        F.sum("n_train").cast("long").alias("train_docs"),
        F.sum("n_dev").cast("long").alias("dev_docs"),
        F.sum(F.when(leaky, 1).otherwise(0)).cast("long").alias("leaky_text_groups"),
        F.sum(F.when(leaky, F.col("n_train") + F.col("n_dev")).otherwise(F.lit(0)))
        .cast("long")
        .alias("leaky_docs"),
    )


@_q(
    "events_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id)
    SELECT v.user_id,
           epoch_us(v.t1) AS view_us,
           epoch_us(c.t2) AS click_us,
           epoch_us(p.t3) AS purchase_us,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     WHEN v.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user, the
    FIRST view, the first click strictly after it, and the first
    purchase strictly after that — the sequential-pattern analytics op
    (product funnels, consent flows, attribution) the window gauntlets
    don't cover because each step's predicate depends on the previous
    step's aggregate. Single-shuffle shape: one hash partition by user
    feeds three chained Window minimums (the per-user partitioning is
    reused across all three, no extra exchange), then one per-user
    aggregate collapses to a row; the oracle decorrelates the same
    chain into three grouped joins. Timestamps leave as epoch µs."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    # no is-not-null filter: a user with zero views stays as a stage-0
    # row on BOTH engines (the oracle's v CTE groups every user too)
    return per_user.select(
        "user_id",
        F.unix_micros("t1").alias("view_us"),
        F.unix_micros("t2").alias("click_us"),
        F.unix_micros("t3").alias("purchase_us"),
        stage.cast("int").alias("funnel_stage"),
    )


@_q(
    "events_cohort_retention",
    """
    WITH d AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events),
    first AS (
      SELECT user_id, MIN(day) AS day0 FROM d GROUP BY user_id)
    SELECT CAST(day0 // 7 AS BIGINT) AS cohort_week,
           CAST((day - day0) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_active
    FROM d JOIN first ON d.user_id = first.user_id
    GROUP BY day0 // 7, (day - day0) // 7
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (the activation/churn matrix every product and
    data-quality dashboard is built on): users bucketed by the week of
    their first event, counted as active per week offset since then.
    All bucket arithmetic is integer floor-division over epoch
    microseconds — no calendar/week-start or timezone semantics to
    diverge cross-engine. Shape: one per-user min (map-side combined),
    re-joined on user (co-partitioned with the per-user shuffle under
    AQE), then a distinct-count on the tiny (cohort, offset) grid."""
    e = load_table(spark, "events", sf_dir).select("user_id", "ts")
    d = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    first = d.groupBy("user_id").agg(F.min("day").alias("day0"))
    return (
        d.join(first, "user_id")
        .groupBy(
            F.expr("day0 div 7").alias("cohort_week"),
            F.expr("(day - day0) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@_q(
    "corpus_mix_resample",
    """
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                          x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_src),
    w AS (
      SELECT source,
             CAST(total_tokens AS DOUBLE)
               / CAST(n_sources * n_tokens AS DOUBLE) AS mix_weight
      FROM per_src, tot)
    SELECT d.doc_id, d.source,
           CAST(FLOOR(w.mix_weight)
                + CASE WHEN CAST(concat('0x',
                         substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                         AS UBIGINT) / 4294967296.0
                       < w.mix_weight - FLOOR(w.mix_weight)
                       THEN 1 ELSE 0 END AS BIGINT) AS n_copies
    FROM documents d JOIN w ON d.source = w.source
    """,
)
def corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The execution step of mixture planning: per document, how many
    copies the rebalanced corpus carries — floor(weight) guaranteed
    copies plus one more with probability frac(weight), decided by a
    PORTABLE per-doc uniform (first 8 hex digits of md5(doc_id) scaled
    to [0,1) — both engines derive the identical double, so the
    stochastic rounding is reproducible run-to-run AND engine-to-engine;
    E[copies] = weight exactly). 100 TB shape: the 20-row weight table
    broadcasts into a narrow scan projection — zero shuffles on the
    corpus side; a downstream epoch writer just explodes
    sequence(1, n_copies)."""
    d = load_table(spark, "documents", sf_dir)
    per_src = d.groupBy("source").agg(
        F.sum(F.size(TX.ws_tokens(F.col("text"))).cast("long")).alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = per_src.crossJoin(F.broadcast(tot)).select(
        F.col("source").alias("w_source"),
        (
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens")).cast("double")
        ).alias("mix_weight"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    extra = F.when(u < F.col("mix_weight") - F.floor("mix_weight"), 1).otherwise(0)
    return (
        d.join(F.broadcast(w), d.source == F.col("w_source"))
        .select(
            "doc_id",
            "source",
            (F.floor("mix_weight") + extra).cast("long").alias("n_copies"),
        )
    )


@_q(
    "corpus_weighted_sample",
    f"""
    WITH w AS ({_TOKS_CTE}),
    t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM w WHERE len(toks) > 0),
    keyed AS (
      SELECT t.doc_id, d.source, t.n_tokens,
             CAST(floor(
               ln((CAST(concat('0x',
                     substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))
                     AS UBIGINT) + 1) / 4294967296.0)
               / CAST(t.n_tokens AS DOUBLE)
               * 1000000000.0 + 0.5) AS BIGINT) AS key_q
      FROM t JOIN documents d USING (doc_id))
    SELECT doc_id, source, n_tokens, key_q,
           CAST(ROW_NUMBER() OVER (ORDER BY key_q DESC, doc_id)
                AS INTEGER) AS pick_rank
    FROM keyed
    QUALIFY pick_rank <= 100
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the A-ES key
    (Efraimidis & Spirakis 2006): each doc draws a portable uniform u
    (md5-derived, the ``corpus_mix_resample`` device, +1 so u ∈ (0, 1])
    and the k docs with the largest u^(1/w) win — here ranked by the
    monotone-equivalent ln(u)/w with w = token count, so long documents
    are proportionally favored without ever drawing a doc twice (the
    complement of ``corpus_mix_resample``'s with-replacement copies).
    k = 100 at the gate; production parameterizes it.

    Cross-engine device: ln is the one transcendental — the RANKING
    KEY itself is fixed-point quantized (×1e9, floor(x+0.5), BIGINT;
    half-up is sign-consistent in both engines) so the top-k cut and
    the (key_q desc, doc_id) tie-break are integer-exact, the same
    discipline as the bm25 idf. Zero-token docs carry no weight and
    are excluded (ln(u)/0 is undefined, and a zero-weight item should
    never be sampled — A-ES's own boundary).

    Scale shape: one tokenize scan produces (doc_id, n_tokens), the
    key is a per-row expression, and the global top-k rides ONE
    TakeOrderedAndProject-class rank (WindowGroupLimit prunes each
    partition to k rows pre-shuffle) — no full sort of the corpus. At
    100 TB this is the standard one-pass distributed weighted sampler;
    k beyond executor memory would switch to per-partition top-k +
    driver merge, the same plan Spark already generates here."""
    return _weighted_sample_core(load_table(spark, "documents", sf_dir), 100)


def _weighted_sample_core(d: DataFrame, k: int) -> DataFrame:
    """The A-ES sampler over a documents DataFrame with ``k``
    parameterized — the CLI form; see :func:`corpus_weighted_sample`
    (the k=100 gate) for the device and its determinism argument."""
    from pyspark.sql import Window as W

    t = d.select(
        "doc_id", "source", F.size(TX.words(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key_q = F.floor(
        F.log(u) / F.col("n_tokens").cast("double") * 1e9 + F.lit(0.5)
    ).cast("long")
    keyed = t.withColumn("key_q", key_q)
    rank = F.row_number().over(
        W.orderBy(F.col("key_q").desc(), "doc_id")
    )
    return (
        keyed.withColumn("pick_rank", rank)
        .filter(F.col("pick_rank") <= k)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "key_q",
            "pick_rank",
        )
    )


#: Temperature for the tempered-mixture weights (the τ of multilingual
#: sampling à la XLM-R/mT5: q_s ∝ p_s^τ flattens the source distribution
#: toward uniform as τ→0, keeps it natural at τ=1).
_MIX_TEMPERATURE = 0.7

_MIX_TEMP_ORACLE = f"""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                          x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_src),
    pw AS (
      SELECT source, n_tokens,
             CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS p_nat,
             CAST(floor(power(CAST(n_tokens AS DOUBLE)
                              / CAST(total_tokens AS DOUBLE),
                              {_MIX_TEMPERATURE}) * 1000000000.0 + 0.5)
                  AS BIGINT) AS pw_q
      FROM per_src, tot),
    z AS (SELECT CAST(SUM(pw_q) AS BIGINT) AS zq FROM pw)
    SELECT source, n_tokens, p_nat,
           CAST(pw_q AS DOUBLE) / CAST(zq AS DOUBLE) AS p_temp,
           (CAST(pw_q AS DOUBLE) / CAST(zq AS DOUBLE)) / p_nat AS sample_weight
    FROM pw, z
"""


@_q("corpus_mix_temperature", _MIX_TEMP_ORACLE)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (τ=0.7): the multilingual /
    multi-source sampling rule q_s ∝ p_s^τ that up-samples small sources
    without fully flattening the mix — the companion of
    ``corpus_mix_weights`` (which is exactly the τ=0 limit). Output per
    source: natural token share ``p_nat``, tempered share ``p_temp``,
    and ``sample_weight = p_temp / p_nat`` (what a resampler multiplies
    each document's keep-probability by).

    Cross-engine determinism: ``p_nat`` is an exact int64/int64 division;
    the one transcendental (``pow(p, τ)``) goes through the house
    fixed-point device (×1e9, round-half-up to BIGINT — same trick as
    the DSIR and bigram-LM log quantization), so the normalizer is an
    EXACT integer sum and every downstream ratio divides identical
    operands on both engines. 100 TB shape: one map-side-combined
    aggregate on the low-cardinality source key + two 1-row broadcast
    joins; nothing here scales with corpus size."""
    return _mix_temperature_core(
        load_table(spark, "documents", sf_dir), _MIX_TEMPERATURE
    )


def _mix_temperature_core(d: DataFrame, tau: float) -> DataFrame:
    """The tempered-mixture computation with τ as a parameter: the gate
    runs the pinned τ=0.7; ``curation_cli`` exposes ``--temperature``."""
    per_src = d.groupBy("source").agg(
        F.sum(F.size(TX.ws_tokens(F.col("text"))).cast("long")).alias("n_tokens")
    )
    tot = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    pw = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double"))
        .alias("p_nat"),
        F.floor(
            F.pow(
                F.col("n_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                F.lit(tau),
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("pw_q"),
    )
    z = pw.agg(F.sum("pw_q").alias("zq"))
    return pw.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        "p_nat",
        (F.col("pw_q").cast("double") / F.col("zq").cast("double")).alias("p_temp"),
        (
            (F.col("pw_q").cast("double") / F.col("zq").cast("double"))
            / F.col("p_nat")
        ).alias("sample_weight"),
    )


#: Epoch-plan token budget as a multiple of the corpus's total token mass
#: (2.0 = "train for two corpus passes' worth of tokens, rebalanced").
_EPOCH_BUDGET_MULT = 2.0

_EPOCH_PLAN_ORACLE = f"""
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                          x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_src)
    SELECT source, n_tokens,
           CAST(total_tokens AS DOUBLE) * {_EPOCH_BUDGET_MULT}
             / CAST(n_sources AS DOUBLE) AS target_tokens,
           (CAST(total_tokens AS DOUBLE) * {_EPOCH_BUDGET_MULT}
             / CAST(n_sources AS DOUBLE)) / CAST(n_tokens AS DOUBLE) AS epochs,
           CAST(floor((CAST(total_tokens AS DOUBLE) * {_EPOCH_BUDGET_MULT}
             / CAST(n_sources AS DOUBLE)) / CAST(n_tokens AS DOUBLE))
             AS BIGINT) AS full_epochs,
           (CAST(total_tokens AS DOUBLE) * {_EPOCH_BUDGET_MULT}
             / CAST(n_sources AS DOUBLE)) / CAST(n_tokens AS DOUBLE)
             - floor((CAST(total_tokens AS DOUBLE) * {_EPOCH_BUDGET_MULT}
             / CAST(n_sources AS DOUBLE)) / CAST(n_tokens AS DOUBLE))
             AS partial_frac
    FROM per_src, tot
"""


@_q("corpus_epoch_plan", _EPOCH_PLAN_ORACLE)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan for a rebalanced token budget (the LLaMA-
    style data table: each source gets an equal share of a budget =
    2× total corpus tokens; epochs_s = share / tokens_s, split into
    ``full_epochs`` guaranteed passes + a ``partial_frac`` sampled pass
    — exactly what ``corpus_mix_resample``'s stochastic-rounding copies
    execute per document). All outputs are exact integer aggregates or
    IEEE divisions of identical operands — bit-stable with no
    transcendental anywhere. 100 TB shape: identical to
    ``corpus_mix_weights`` — one tiny keyed aggregate + a 1-row
    broadcast; the plan table is what an epoch writer broadcasts."""
    return _epoch_plan_core(
        load_table(spark, "documents", sf_dir), _EPOCH_BUDGET_MULT
    )


def _epoch_plan_core(d: DataFrame, budget_mult: float) -> DataFrame:
    """Epoch-plan computation with the budget multiple as a parameter:
    the gate pins 2.0; ``curation_cli`` exposes ``--budget-mult``."""
    per_src = d.groupBy("source").agg(
        F.sum(F.size(TX.ws_tokens(F.col("text"))).cast("long")).alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    target = (
        F.col("total_tokens").cast("double")
        * F.lit(budget_mult)
        / F.col("n_sources").cast("double")
    )
    epochs = target / F.col("n_tokens").cast("double")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        target.alias("target_tokens"),
        epochs.alias("epochs"),
        F.floor(epochs).cast("long").alias("full_epochs"),
        (epochs - F.floor(epochs)).alias("partial_frac"),
    )


#: Per-source ceiling as a fraction of total corpus documents — the
#: "no single domain may exceed X% of the corpus" curation rule.
_DOMAIN_CAP_FRAC = 0.3

_DOMAIN_CAP_ORACLE = f"""
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    ranked AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS src_rank
      FROM documents)
    SELECT r.doc_id, r.source, r.src_rank,
           r.src_rank <= CAST(ceil(CAST(n_total AS DOUBLE)
                                   * {_DOMAIN_CAP_FRAC}) AS BIGINT) AS kept
    FROM ranked r, tot
"""


@_q("corpus_domain_cap", _DOMAIN_CAP_ORACLE)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain frequency cap: no source may contribute more than 30% of
    the corpus's documents. Each doc gets a deterministic within-source
    rank by (md5(doc_id), doc_id) — an unbiased, reproducible shuffle
    order, the same portable-uniform device as ``corpus_mix_resample``
    — and ``kept`` is rank <= ceil(0.3 · N). Sources under the cap keep
    everything; oversized ones keep a uniform random subset that is
    STABLE across runs and engines (no rand()).

    100 TB shape: the rank is a window partitioned by the low-
    cardinality source key — one shuffle keyed on source. A single
    giant domain makes that partition hot; the scale fix is the
    standard two-phase rank (per-partition counts + prefix-sum offsets
    broadcast back) or simply thresholding on the md5 string directly
    (rank-free: keep iff md5(doc_id) < per-source quantile cutoff),
    which this operator's output lets a planner calibrate. Integer and
    boolean outputs only — nothing to drift."""
    return _domain_cap_core(
        load_table(spark, "documents", sf_dir), _DOMAIN_CAP_FRAC
    )


def _domain_cap_core(d: DataFrame, cap_frac: float) -> DataFrame:
    """Domain-cap computation with the ceiling fraction as a parameter:
    the gate pins 0.3; ``curation_cli`` exposes ``--cap-frac``."""
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("src_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "src_rank",
            (
                F.col("src_rank")
                <= F.ceil(F.col("n_total").cast("double") * F.lit(cap_frac))
                .cast("long")
            ).alias("kept"),
        )
    )


@_q(
    "phrase_search_postings",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(range(1, len(toks)),
                    i -> toks[i] = 'fast' AND toks[i+1] = 'table'))
                AS BIGINT) AS n_hits
    FROM t
    WHERE len(list_filter(range(1, len(toks)),
              i -> toks[i] = 'fast' AND toks[i+1] = 'table')) > 0
    """,
)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval over positional postings — the CONSUMER of the
    inverted-index family (``inverted_index_postings`` builds term→doc
    lists; this executes the classic two-term phrase query "fast table"
    by adjacency-joining per-term position lists). Shape: the position
    stream is filtered to the two query terms BEFORE any join — two tiny
    posting sets — then equi-joined on (doc, position+1), which Spark
    broadcasts; per-doc hit counts aggregate on the join output. At
    warehouse scale the postings would be a materialized table
    partitioned by term (this plan's filtered-explode is the build+probe
    fused form); the join/aggregate shape is identical either way."""
    d = load_table(spark, "documents", sf_dir)
    pos = d.select(
        "doc_id", F.posexplode(TX.words(F.col("text"))).alias("pos", "term")
    )
    p1 = pos.filter(F.col("term") == "fast").select("doc_id", F.col("pos").alias("p1"))
    p2 = pos.filter(F.col("term") == "table").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    return (
        p1.join(p2, (F.col("doc_id") == F.col("d2")) & (F.col("p2") == F.col("p1") + 1))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@_q(
    "events_peak_concurrency",
    """
    WITH iv AS (
      SELECT epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e FROM events),
    deltas AS (
      SELECT s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT e AS t, -1 AS d FROM iv),
    run AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
      FROM deltas)
    SELECT CAST(MAX(active) AS BIGINT) AS peak_concurrency,
           CAST(MIN(CASE WHEN active = (SELECT MAX(active) FROM run)
                         THEN t END) AS BIGINT) AS first_peak_t_us
    FROM run
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval aggregation: peak number of concurrently
    active 10-minute activity windows and the first instant it occurs —
    the algorithmic shape (boundary deltas + global prefix sum) behind
    concurrency billing, capacity planning, and overlap joins. The
    oracle uses a plain global running sum; the Spark plan implements
    the SCALE-SAFE two-phase prefix sum instead, because a global
    ORDER BY window is a single-partition funnel at 100 TB: deltas
    bucket by day, each bucket computes its local running sum in
    parallel (partitionBy(day) window), and the tiny per-day totals
    broadcast back as cumulative offsets — the only global state is one
    row per day. Determinism under duplicate timestamps: with ties
    ordered (t, d), the multiset of running values within a tie group is
    fixed regardless of intra-group order, so MAX(active) and the first
    peak instant are order-independent."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).select(F.unix_micros("ts").alias("s"))
    deltas = e.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        e.select((F.col("s") + 600_000_000).alias("t"), F.lit(-1).alias("d"))
    ).withColumn("day", F.expr("t div 86400000000"))
    day_tot = deltas.groupBy("day").agg(F.sum("d").alias("day_sum"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    # offsets: one row per day — the global window here runs over ~tens
    # of rows, not the event stream
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("day_sum").over(wd), F.lit(0)).alias("offset")
    )
    wl = Window.partitionBy("day").orderBy("t", "d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = (
        deltas.withColumn("local", F.sum("d").over(wl))
        .join(F.broadcast(offsets), "day")
        .select("t", (F.col("local") + F.col("offset")).alias("active"))
    )
    peak = run.agg(F.max("active").alias("peak"))
    return (
        run.crossJoin(F.broadcast(peak))
        .agg(
            F.max("active").alias("peak_concurrency"),
            F.min(F.when(F.col("active") == F.col("peak"), F.col("t"))).alias(
                "first_peak_t_us"
            ),
        )
        .select(
            F.col("peak_concurrency").cast("long"),
            F.col("first_peak_t_us").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# clustering / vocabulary / corpus-overlap (round-6 additions)
# ---------------------------------------------------------------------------


#: K of the gated k-means queries: the 8 lowest ids seed the centroids
_KMEANS_K = 8


def _lloyd_oracle(src: str, rounds: int) -> str:
    """DuckDB CTEs for ``rounds`` exact Lloyd rounds over ``src`` (a
    relation of vec_id, embedding), the SQL mirror of
    ``operators/kmeans.py``: c0 holds the K lowest-id vectors; round i
    scores (s), ranks (a) and gathers (m) every vector against c{i},
    averages each cluster in 1e-6 fixed point (u{i}) and lists the new
    centroids (c{i+1}); asg is every vector's nearest c{rounds}
    centroid. The fixed-point means make each round's centroids
    bit-identical across engines, so the whole trajectory stays
    hash-exact."""

    def fold_dist(emb: str, cemb: str) -> str:
        return f"""list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len({emb}) + 1),
            i -> (CAST({emb}[i] AS DOUBLE) - CAST({cemb}[i] AS DOUBLE))
               * (CAST({emb}[i] AS DOUBLE) - CAST({cemb}[i] AS DOUBLE)))),
          (a, b) -> a + b)"""

    ctes = [
        "c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb"
        f" FROM {src} ORDER BY vec_id LIMIT {_KMEANS_K})"
    ]
    for it in range(rounds + 1):
        ctes.append(f"""s{it} AS (
      SELECT e.vec_id, c.cid, {fold_dist('e.embedding', 'c.cemb')} AS dist
      FROM {src} e, c{it} c)""")
        ctes.append(f"""a{it} AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM s{it})""")
        if it == rounds:
            break
        ctes.append(f"""m{it} AS (
      SELECT a.cid, e.embedding FROM a{it} a JOIN {src} e USING (vec_id)
      WHERE a.rn = 1)""")
        ctes.append(f"""u{it} AS (
      SELECT cid, i - 1 AS dim,
             CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
                      AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0) AS val,
             COUNT(*) AS n_members
      FROM (SELECT cid, unnest(range(1, len(embedding) + 1)) AS i, embedding
            FROM m{it})
      GROUP BY cid, i)""")
        ctes.append(f"""c{it + 1} AS (
      SELECT cid, list(val ORDER BY dim) AS cemb FROM u{it} GROUP BY cid)""")
    ctes.append(f"asg AS (SELECT vec_id, cid FROM a{rounds} WHERE rn = 1)")
    return ",\n    ".join(ctes)


def _kmeans_iter_oracle(n_iter: int) -> str:
    """Oracle for ``n_iter`` Lloyd rounds from the pinned init: the last
    round's centroid update."""
    return f"""WITH {_lloyd_oracle("embeddings", n_iter)}
    SELECT cid AS cluster_id, CAST(dim AS INTEGER) AS dim,
           val AS new_centroid, n_members
    FROM u{n_iter - 1}"""


@_q("embedding_kmeans_step", _kmeans_iter_oracle(1))
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration (assign + centroid update) with pinned
    init centroids (the 8 lowest ids) — the building block behind IVF
    coarse quantizers and embedding-space corpus clustering. The stages
    and their determinism argument live in ``operators/kmeans.py``."""
    e = load_table(spark, "embeddings", sf_dir)
    return KM.update(e, KM.init_centroids(e, _KMEANS_K))


_VOCAB_OOV_ORACLE = f"""
    WITH w AS ({_TOKS_CTE.replace("doc_id, lang", "doc_id, source")}),
    tok AS (
      SELECT source,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS term
      FROM w),
    st AS (SELECT source, term, COUNT(*) AS cnt FROM tok GROUP BY source, term),
    tf AS (SELECT term, SUM(cnt) AS c FROM st GROUP BY term),
    vocab AS (
      SELECT term FROM tf
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, term) <= 256)
    SELECT st.source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt) AS oov_rate
    FROM st LEFT JOIN vocab v USING (term)
    GROUP BY st.source
"""


@_q("text_vocab_oov", _VOCAB_OOV_ORACLE)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary audit: build the top-256 word-bigram vocab
    (count DESC, term ASC tie-break — fully deterministic) and report
    each source's out-of-vocabulary token count/rate — the coverage
    check run before freezing a tokenizer or a new-domain data mix.

    Scale shape: tokenize ONCE into per-(source, term) counts (the only
    corpus-sized shuffle, with map-side combine); the global term
    frequencies re-aggregate from that compact table, the 256-term vocab
    is a TakeOrdered over it, and the vocab joins back BROADCAST — the
    raw token stream is never shuffled twice and never joined. At 100 TB
    the (source×term) table is bounded by vocabulary, not corpus size.
    """
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "source", F.explode(TX.ngrams(TX.words(F.col("text")), 2)).alias("term")
    )
    with DD.Staging() as st:
        terms = st.pin(tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt")))
        tf = terms.groupBy("term").agg(F.sum("cnt").alias("c"))
        vocab = tf.orderBy(F.col("c").desc(), "term").limit(256).select("term")
        oov = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(F.lit(0))
        return st.own(
            terms.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left")
            .groupBy("source")
            .agg(
                F.sum("cnt").alias("n_tokens"),
                F.sum(oov).alias("n_oov"),
                (F.sum(oov).cast("double") / F.sum("cnt")).alias("oov_rate"),
            )
        )


_SOURCE_OVERLAP_ORACLE = f"""
    WITH w AS ({_TOKS_CTE.replace("doc_id, lang", "doc_id, source")}),
    grams AS (
      SELECT source,
             unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                    i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM w),
    sh AS (SELECT DISTINCT source, substring(md5(g), 1, 16) AS k FROM grams),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.k = b.k AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b, CAST(i.n_common AS BIGINT) AS n_common,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i JOIN sizes sa ON sa.source = i.source_a
                 JOIN sizes sb ON sb.source = i.source_b
"""


@_q("source_overlap_jaccard", _SOURCE_OVERLAP_ORACLE)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap audit: pairwise Jaccard similarity of the distinct
    word-trigram shingle sets of every source pair — the cross-source
    contamination matrix checked before mixing corpora into a train set
    (high overlap ⇒ double-counted content distorting mixture weights).

    Scale shape: shingles hash to fixed-width keys BEFORE the distinct
    (the corpus-sized shuffle carries (source, 16-char key), never
    text); the pairwise intersection is an equi-join ON THE KEY — only
    shingles present in ≥2 sources contribute join rows — and per-source
    set sizes broadcast back onto the S² pair matrix (S = #sources,
    tiny). Production note at 100 TB: swap the md5-prefix key for
    xxhash64 to shuffle int64s; md5 is used here because both engines
    spell it identically, making the gate byte-exact.
    """
    d = load_table(spark, "documents", sf_dir)
    grams = d.select(
        "source", F.explode(TX.ngrams(TX.words(F.col("text")), 3)).alias("g")
    )
    with DD.Staging() as st:
        sh = st.pin(grams.select(
            "source", F.substring(F.md5("g"), 1, 16).alias("k")
        ).distinct())
        sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        b = sh.select(F.col("source").alias("source_b"), F.col("k").alias("kb"))
        inter = (
            sh.join(b, (F.col("k") == F.col("kb")) & (F.col("source") < F.col("source_b")))
            .groupBy(F.col("source").alias("source_a"), "source_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
        return st.own(
            inter.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select(
                "source_a",
                "source_b",
                "n_common",
                (
                    F.col("n_common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                ).alias("jaccard"),
            )
        )


@_q(
    "dedup_prefix_hash_groups",
    """
    SELECT md5(substr(text, 1, 150)) AS prefix_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_full_variants
    FROM documents
    GROUP BY md5(substr(text, 1, 150))
    """,
)
def dedup_prefix_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation dedup: group documents by a hash of their first
    150 characters — the cheap catch for truncated re-crawls, pagination
    clones, and boilerplate-headed pages that exact full-text dedup
    misses (clone edits concentrate in the tail). ``n_full_variants``
    counts distinct full-text hashes inside each prefix group: >1 means
    the group holds near-duplicates invisible to ``dedup_exact``.

    Scale shape: identical to ``dedup_exact_hash_groups`` — the shuffle
    carries a 16-byte prefix hash plus a 32-byte full hash per doc,
    never text, with map-side combine on the count.
    """
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy(
        F.md5(F.substring(F.col("text"), 1, 150)).alias("prefix_hash")
    ).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2("text", 256)).alias("n_full_variants"),
    )


@_q("embedding_kmeans_iter3", _kmeans_iter_oracle(3))
def embedding_kmeans_iter3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact Lloyd iterations — the ITERATIVE algorithm shape
    (loop-carried state, lineage truncation per round) under a
    hash-exact oracle, which is only possible because each iteration's
    centroid means are deterministic fixed-point values: iteration N's
    distances fold over bit-identical centroids on both engines, so the
    whole trajectory matches, not just one step. Memberships genuinely
    move (e.g. cluster 0: 56 → 53 members at sf0.01), so the loop is
    exercised, not decorative: ``KM.lloyd``'s two checkpointed rounds,
    then the third round's update."""
    e = load_table(spark, "embeddings", sf_dir)
    return KM.update(e, KM.lloyd(e, _KMEANS_K))


@_q(
    "embedding_silhouette_by_label",
    """
    WITH e AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE embedding IS NOT NULL),
    comp AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS i, embedding
      FROM e),
    cq AS (
      SELECT label, i,
             CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0
                                 + 0.5) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1000000.0) AS c
      FROM comp GROUP BY label, i),
    cent AS (SELECT label, list(c ORDER BY i) AS cemb FROM cq GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label, c.label AS clabel,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(e.embedding) + 1),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - c.cemb[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - c.cemb[i]))),
               (a, b) -> a + b) AS dist
      FROM e, cent c),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN dist END) AS a_intra,
             MIN(CASE WHEN clabel <> label THEN dist END) AS b_inter
      FROM d GROUP BY vec_id, label)
    SELECT vec_id, label, a_intra, b_inter,
           CASE
             WHEN a_intra IS NULL OR b_inter IS NULL THEN NULL
             WHEN greatest(a_intra, b_inter) > 0.0
               THEN (b_inter - a_intra) / greatest(a_intra, b_inter)
             ELSE 0.0
           END AS silhouette
    FROM ab
    """,
)
def embedding_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SIMPLIFIED SILHOUETTE against the label partition
    (Hruschka et al. 2004's centroid form of Rousseeuw 1987): a = sqdist
    to the own-label centroid, b = min sqdist to any other label's
    centroid, s = (b−a)/max(a,b) — the label-quality audit that says
    which examples sit inside their class's embedding region and which
    are closer to a different class (mislabel/boundary candidates,
    the per-example complement of ``embedding_knn_label_consistency``'s
    neighborhood vote). Centroid-based, so the bill is O(N·L), not the
    classic silhouette's O(N²).

    Determinism: centroids are 1e-6 fixed-point integer sums divided
    once in double (the ``operators/kmeans.py`` device — exact and
    order-free); distances are the shared left-to-right ``sqdist`` fold
    that bit-matches DuckDB ``list_reduce``; a/b/s are then identical
    IEEE expressions in both engines, so the gate hash-compares raw
    doubles with no wobble budget. A single-label corpus yields NULL
    silhouettes (no "other" centroid exists) in both engines rather
    than an arbitrary 0.

    Scale shape: the centroid aggregate shuffles L×d int64 partials
    with map-side combine (corpus-size-independent state); the L
    centroids collapse to ONE broadcast struct-array row; scoring is a
    zero-shuffle map-side transform per vector — the
    ``kmeans.assign`` plan with L distances kept instead of argmin."""
    from cql_xmlpipe_spark.functions.vectors import sqdist

    e = load_table(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull()
    )
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).withColumn(
        "q", F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )
    cq = comp.groupBy("label", "dim").agg(
        (F.sum("q").cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias("c")
    )
    cent = cq.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cemb")
    )
    cents = cent.agg(
        F.array_sort(F.collect_list(F.struct("label", "cemb"))).alias("cents")
    )
    dists = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            c["label"].alias("clabel"),
            sqdist(F.col("embedding"), c["cemb"]).alias("dist"),
        ),
    )
    scored = e.crossJoin(F.broadcast(cents)).withColumn("dists", dists)
    a_intra = F.array_min(
        F.transform(
            F.filter(F.col("dists"), lambda d: d["clabel"] == F.col("label")),
            lambda d: d["dist"],
        )
    )
    b_inter = F.array_min(
        F.transform(
            F.filter(F.col("dists"), lambda d: d["clabel"] != F.col("label")),
            lambda d: d["dist"],
        )
    )
    s = (
        F.when(a_intra.isNull() | b_inter.isNull(), F.lit(None).cast("double"))
        .when(
            F.greatest(a_intra, b_inter) > 0.0,
            (b_inter - a_intra) / F.greatest(a_intra, b_inter),
        )
        .otherwise(F.lit(0.0))
    )
    return scored.select(
        "vec_id",
        "label",
        a_intra.alias("a_intra"),
        b_inter.alias("b_inter"),
        s.alias("silhouette"),
    )


#: Prototypicality prune fraction: the most-prototypical 30% of each
#: cluster (highest cosine to own centroid) is marked for pruning — the
#: SSL-prototypes operating regime (keep hard examples, cut redundant
#: cluster cores) for large datasets.
_PROTO_PRUNE_FRAC = 0.3


def _prototypicality_oracle() -> str:
    """Oracle for :func:`embedding_prototypicality`: 2 Lloyd rounds and
    the final assignment (``_lloyd_oracle``), then each vector's cosine
    to its OWN cluster centroid plus the within-cluster rank/prune
    verdict."""

    def fold_dot(emb: str, cemb: str) -> str:
        return f"""list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range(1, len({emb}) + 1),
            i -> CAST({emb}[i] AS DOUBLE) * CAST({cemb}[i] AS DOUBLE))),
          (a, b) -> a + b)"""

    return f"""
    WITH {_lloyd_oracle("embeddings", 2)},
    pc AS (
      SELECT e.vec_id, asg.cid,
             {fold_dot('e.embedding', 'c.cemb')}
               / (sqrt({fold_dot('e.embedding', 'e.embedding')})
                  * sqrt({fold_dot('c.cemb', 'c.cemb')})) AS proto_cos
      FROM embeddings e
      JOIN asg ON e.vec_id = asg.vec_id
      JOIN c2 c ON asg.cid = c.cid
      WHERE sqrt({fold_dot('e.embedding', 'e.embedding')}) > 0
        AND sqrt({fold_dot('c.cemb', 'c.cemb')}) > 0)
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, proto_cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY cid
                ORDER BY proto_cos DESC, vec_id) AS INTEGER) AS proto_rank,
           CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size,
           ROW_NUMBER() OVER (PARTITION BY cid
                ORDER BY proto_cos DESC, vec_id)
             <= CAST(ceil({_PROTO_PRUNE_FRAC}
                          * CAST(COUNT(*) OVER (PARTITION BY cid) AS DOUBLE))
                     AS BIGINT) AS is_pruned
    FROM pc
"""


@_q("embedding_prototypicality", _prototypicality_oracle())
def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes data pruning metric (Sorscher et al. 2022,
    "Beyond neural scaling laws"): cluster the embedding space (2 exact
    Lloyd rounds on the shared fixed-point k-means core), then score
    every vector by COSINE TO ITS OWN CLUSTER CENTROID — high cosine =
    prototypical/redundant, low = hard example. ``is_pruned`` marks
    the most-prototypical 30% of each cluster, the keep-hard-examples
    regime the paper prescribes for large datasets (the complement of
    ``semdedup_prune``, which cuts pairwise near-twins; this cuts
    cluster CORES). Output: (vec_id, cluster_id, proto_cos, proto_rank,
    cluster_size, is_pruned); zero-norm vectors carry no direction and
    are excluded (documented, none in the natural corpus).

    Determinism: centroids are fixed-point Lloyd means (bit-identical
    across engines, the kmeans_iter3 device), proto_cos divides
    identical left-to-right folds, and the rank tie-breaks on vec_id.
    Scale shape: two k-means passes (broadcast-out/shuffle-back) + one
    assignment scan + a K-row broadcast join + ONE window partitioned
    by cluster_id — at K ∝ N the window partitions stay bounded; the
    centroid-norm work is per-cluster, not per-vector."""
    from cql_xmlpipe_spark.functions.vectors import dot as vdot
    from cql_xmlpipe_spark.functions.vectors import norm

    e = load_table(spark, "embeddings", sf_dir)
    cent = KM.lloyd(e, _KMEANS_K)
    asg = KM.assign(e, cent)
    # centroid norms once per CLUSTER (K rows), not per vector
    cn = cent.select(
        F.col("cid"), F.col("cemb"), norm(F.col("cemb")).alias("nrm_c")
    ).filter(F.col("nrm_c") > 0)
    pc = (
        asg.withColumn("nrm_e", norm(F.col("embedding")))
        .filter(F.col("nrm_e") > 0)
        .join(F.broadcast(cn), F.col("cluster_id") == F.col("cid"))
        .select(
            "vec_id",
            "cluster_id",
            (
                vdot(F.col("embedding"), F.col("cemb"))
                / (F.col("nrm_e") * F.col("nrm_c"))
            ).alias("proto_cos"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("proto_cos").desc(), F.col("vec_id")
    )
    wsz = Window.partitionBy("cluster_id")
    return pc.select(
        "vec_id",
        "cluster_id",
        "proto_cos",
        F.row_number().over(w).alias("proto_rank"),
        F.count(F.lit(1)).over(wsz).alias("cluster_size"),
        (
            F.row_number().over(w)
            <= F.ceil(
                F.lit(_PROTO_PRUNE_FRAC)
                * F.count(F.lit(1)).over(wsz).cast("double")
            ).cast("long")
        ).alias("is_pruned"),
    )


_DEGREE_ORACLE = f"""
    WITH {_lsh_band_ctes(0.35)},
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT id_a AS v FROM pairs
        UNION ALL
        SELECT id_b AS v FROM pairs)
      GROUP BY v)
    SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree
"""


@_q("dedup_graph_degree", _DEGREE_ORACLE)
def dedup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph profile: the degree histogram of the verified
    MinHash+LSH pair graph (how many documents have exactly N near
    duplicates) — the shape checked before choosing a dedup survivor
    policy (a long tail of high-degree nodes means clone FAMILIES, where
    keep-first beats pairwise removal; isolated edges mean true pairs).

    Scale shape: consumes the same banded-LSH pair stream as
    ``dedup_cluster_assign`` (fixed-width key shuffles only), then two
    map-side-combining aggregates over bare longs — degrees, then the
    histogram. Documents with zero near-dups don't appear (no join
    against the corpus needed)."""
    pairs = DD.minhash_lsh_pairs_collapsed(
        load_table(spark, "documents", sf_dir), threshold=0.35
    )
    # ONE reference to the pair stream (explode both endpoints per row),
    # not a union of two selects: a second reference re-executes the
    # whole signature/verify subtree wherever its persisted intermediates
    # evict — measured 67.6 s vs 7.6 s at the 10× decade smoke.
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("v")
    )
    deg = ends.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def _ewma_seg_size(n: int) -> int:
    """Python model of the per-user EWMA segment size: ⌈√n⌉, so the
    per-segment event arrays AND the per-user segment array are both
    O(√n) — no plan node ever holds an O(user-history) value. Exactness
    across engines: n < 2⁵³ casts to double exactly and IEEE 754 requires
    sqrt correctly rounded, so Spark/DuckDB/Python agree on ⌈√n⌉
    bit-for-bit. Used by the tests' reference models; the SQL/Column
    twins below inline the same expression."""
    import math

    return max(1, math.ceil(math.sqrt(n)))


@_q(
    "events_user_ewma",
    """
    WITH r AS (
      SELECT user_id,
             COALESCE(CAST(value AS DOUBLE), 0.0) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) - 1 AS rn,
             CAST(CEIL(SQRT(CAST(COUNT(*) OVER (PARTITION BY user_id)
                                 AS DOUBLE))) AS BIGINT) AS ss
      FROM events),
    seg AS (
      SELECT user_id, rn // ss AS seg,
             COUNT(*) AS n,
             list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY rn)),
                         (acc, x) -> acc * 0.9 + x * 0.1) AS partial,
             list_reduce(list_prepend(1.0::DOUBLE, list(v ORDER BY rn)),
                         (acc, x) -> acc * 0.9) AS p9
      FROM r GROUP BY user_id, rn // ss)
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           struct_extract(list_reduce(
               list_prepend(struct_pack(p := 1.0::DOUBLE, q := 0.0::DOUBLE),
                            list(struct_pack(p := p9, q := partial)
                                 ORDER BY seg)),
               (acc, s) -> struct_pack(p := acc.p * s.p,
                                       q := acc.q * s.p + s.q)),
             'q') AS ewma_value
    FROM seg GROUP BY user_id
    """,
)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted activity score per user (decay 0.9 per
    event) via a SEGMENTED fold — the scale-safe association. A straight
    EWMA fold needs the user's whole history in order; collecting it as
    one array value ties per-task memory to the hottest user (a 10⁹-event
    user at 100 TB is one un-spillable array → executor OOM). Instead:

    * rank events per user (window ROW_NUMBER — WindowExec buffers
      spill to disk, unlike a collect_list array value, so the per-user
      total order costs bounded memory); the same window pass carries
      COUNT(*) OVER (user), from which the per-user segment size
      ss = ⌈√n⌉ derives (:func:`_ewma_seg_size` — cross-engine exact
      because IEEE requires sqrt correctly rounded);
    * fold segments of ``ss`` events independently — each segment yields
      the affine map x → p·x + q (p = 0.9ⁿ by repeated multiplication —
      no libm pow(), which is not bit-stable across engines; q = the
      fold from 0), so per-group state is ≤ ⌈√n⌉ structs (testdata
      users carry 45-99 events → ss 7-10, so the gate runs REAL
      multi-segment combines, not a degenerate 1-segment case);
    * compose the ≤ ⌈n/ss⌉ ≈ √n segment maps in order with the affine
      monoid (p, q)∘(p', q') = (p·p', q·p' + q') and read the final q —
      exactly the full fold in real arithmetic, and bit-identical to
      the oracle because both engines run the same IEEE op sequence
      (the {1, 0} identity init is float-exact: 1.0·p is p, 0.0·p + q
      is q for the p > 0, non-negative-zero q this fold produces).

    BOTH levels are O(√n): a 10⁹-event hot user costs two ~31623-element
    arrays (~1 MB each), not one 10⁹-element array (the round-6 shape)
    nor an n/32-struct second level (the round-7 shape). No plan node
    holds O(user-history) state at any level.

    DETERMINISM still holds: the order is pinned by (event time, unique
    event id) and every step is single IEEE ops. On an unbounded stream
    this becomes the incremental acc' = acc·0.9 + v·0.1 under
    ``applyInPandasWithState`` (streaming/stateful.py)."""
    from pyspark.sql import Window as W

    e = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wall = W.partitionBy("user_id")
    r = e.select(
        "user_id",
        F.coalesce(F.col("value").cast("double"), F.lit(0.0)).alias("v"),
        (F.row_number().over(w) - 1).alias("rn"),
        F.ceil(F.sqrt(F.count(F.lit(1)).over(wall).cast("double"))).alias("ss"),
    )
    return _ewma_segment_fold(r)


def _ewma_segment_fold(r: DataFrame) -> DataFrame:
    """The segmented affine-monoid EWMA fold over a ranked frame
    (user_id, v, rn, ss) — shared by :func:`events_user_ewma` (plain
    window ranking) and :func:`events_user_ewma_bucketed` (skew-
    hardened ranking): identical IEEE op sequence either way, so both
    run under the same oracle."""
    segs = (
        r.withColumn("seg", F.expr("rn div ss"))
        .groupBy("user_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("rn").alias("r"), F.col("v").alias("v"))
                )
            ).alias("sv"),
        )
        .select(
            "user_id",
            "seg",
            "n",
            F.aggregate(
                "sv",
                F.lit(0.0),
                lambda a, s: a * F.lit(0.9) + s["v"] * F.lit(0.1),
            ).alias("q"),
            F.aggregate("sv", F.lit(1.0), lambda a, s: a * F.lit(0.9)).alias("p"),
        )
    )
    combined = F.aggregate(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("seg").alias("s"), F.col("p").alias("p"), F.col("q").alias("q")
                )
            )
        ),
        F.struct(F.lit(1.0).alias("p"), F.lit(0.0).alias("q")),
        lambda a, s: F.struct(
            (a["p"] * s["p"]).alias("p"), (a["q"] * s["p"] + s["q"]).alias("q")
        ),
        lambda a: a["q"],
    )
    return segs.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"), combined.alias("ewma_value")
    )


@_q(
    "events_session_paths",
    """
    WITH t AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 600000000
                  OR LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, us, event_id, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM t),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY us, event_id) AS path
      FROM s GROUP BY user_id, session_id)
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) <= 20
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the 20 most frequent within-session event-type
    paths (10-minute-gap sessions, same rule as ``events_sessionize``),
    each session rendered as an ordered 'type>type>...' string. The
    product question behind funnel design: which journeys actually occur.

    Determinism: the path string is built over the pinned (ts, event_id)
    total order (collect → array_sort → join, matching the oracle's
    ``string_agg(... ORDER BY)``), and the top-20 tie-breaks on the path
    string itself.

    Scale shape: sessionization is one hash partitioning by user (two
    window functions over it, no extra exchange); per-session state is
    one collected event-type list bounded by session length — the same
    bound sessionization itself carries; path frequencies are a
    map-side-combining aggregate on the path string and the top-20 is a
    TakeOrdered, never a global sort."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    flag = F.when(gap.isNull() | (gap > 600_000_000), 1).otherwise(0)
    sess = e.withColumn(
        "session_id",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("us", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


_COOC_ORACLE = f"""
    WITH w AS ({_TOKS_CTE}),
    dt AS (
      SELECT DISTINCT doc_id, unnest(toks) AS term FROM w),
    cnt AS (SELECT term, COUNT(*) AS c FROM dt GROUP BY term),
    vocab AS (
      SELECT term, c FROM cnt
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, term) <= 64),
    dtv AS (SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_docs_both
      FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term)
    SELECT p.term_a, p.term_b, CAST(p.n_docs_both AS BIGINT) AS n_docs_both,
           CAST(nd.n * p.n_docs_both AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs p, nd
    JOIN vocab ca ON ca.term = p.term_a
    JOIN vocab cb ON cb.term = p.term_b
    QUALIFY ROW_NUMBER() OVER (ORDER BY p.n_docs_both DESC, p.term_a, p.term_b)
      <= 50
"""


@_q("text_term_cooccurrence", _COOC_ORACLE)
def text_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining: the 50 strongest term co-occurrences at the
    document level, with LIFT = N·c_ab / (c_a·c_b) — the PMI family
    WITHOUT the logarithm, because libm log is not bit-stable across
    engines while integer products and one IEEE division are. lift > 1
    means the pair co-occurs more than independence predicts.

    Scale shape: candidate terms are capped to the top-64 vocabulary
    FIRST (count DESC, term ASC — deterministic), broadcast, and
    semi-joined onto the per-doc distinct-term stream, so the per-doc
    self-join is bounded by 64² pairs per document regardless of corpus
    vocabulary; pair counts aggregate with map-side combine, the N and
    per-term counts arrive by broadcast, and the top-50 is a
    TakeOrdered."""
    d = load_table(spark, "documents", sf_dir)
    dt = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.words(F.col("text")))).alias("term"),
    )
    cnt = dt.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    vocab = cnt.orderBy(F.col("c").desc(), "term").limit(64)
    with DD.Staging() as st:
        dtv = st.pin(dt.join(F.broadcast(vocab.select("term")), "term"))
        nd = d.agg(F.count(F.lit(1)).alias("n"))
        b = dtv.select(F.col("doc_id").alias("d2"), F.col("term").alias("term_b"))
        pairs = (
            dtv.join(b, (F.col("doc_id") == F.col("d2")) & (F.col("term") < F.col("term_b")))
            .groupBy(F.col("term").alias("term_a"), "term_b")
            .agg(F.count(F.lit(1)).alias("n_docs_both"))
        )
        ca = vocab.select(F.col("term").alias("term_a"), F.col("c").alias("ca"))
        cb = vocab.select(F.col("term").alias("term_b"), F.col("c").alias("cb"))
        return st.own(
            pairs.join(F.broadcast(ca), "term_a")
            .join(F.broadcast(cb), "term_b")
            .crossJoin(F.broadcast(nd))
            .select(
                "term_a",
                "term_b",
                "n_docs_both",
                (
                    (F.col("n") * F.col("n_docs_both")).cast("double")
                    / (F.col("ca") * F.col("cb"))
                ).alias("lift"),
            )
            .orderBy(F.col("n_docs_both").desc(), "term_a", "term_b")
            .limit(50)
        )


_SURVIVOR_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, d.n_chars,
             COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM lab l JOIN documents d USING (doc_id))
    SELECT cluster_id, doc_id AS survivor_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_chars AS BIGINT) AS survivor_n_chars
    FROM ranked WHERE rn = 1
"""


@_q("dedup_survivor_selection", _SURVIVOR_ORACLE)
def dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST step of the dedup pipeline, closing the arc the other
    operators open (pairs → clusters → THIS): pick one survivor per
    near-dup cluster under an explicit policy — longest document wins,
    ties to the lowest doc_id — and report it with the cluster size.
    Keep-longest is the common LLM-corpus policy (truncated clones lose
    to their fullest copy); the policy is one ORDER BY away from
    keep-first or keep-highest-quality.

    Scale shape: reuses the banded-LSH + collapsed connected components
    stream (fixed-width shuffles, |distinct-texts| loop state), joins the
    per-doc length by id, and selects per-cluster winners with one
    ROW_NUMBER window over the cluster partitioning — no new corpus-sized
    state. Singleton docs survive trivially (cluster of one)."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    cc = DD.cluster_assign_collapsed(d, threshold=0.5, k=3)
    joined = cc.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "cluster_size",
            F.col("n_chars").cast("long").alias("survivor_n_chars"),
        )
    )


def _lang_confusion_oracle() -> str:
    hits = {
        lang: (
            "len(list_filter(toks, x -> list_contains(["
            + ",".join(f"'{s}'" for s in stops)
            + "], x)))"
        )
        for lang, stops in TX.LANG_STOPWORDS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    p AS (
      SELECT doc_id, lang AS declared_lang,
             CASE
               WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']}
                    AND {hits['en']} >= {hits['es']} THEN 'en'
               WHEN {hits['de']} >= {hits['fr']} AND {hits['de']} >= {hits['es']}
                    THEN 'de'
               WHEN {hits['fr']} >= {hits['es']} THEN 'fr'
               ELSE 'es'
             END AS predicted_lang
      FROM t)
    SELECT declared_lang, predicted_lang, COUNT(*) AS n_docs,
           CAST(COUNT(*) AS DOUBLE) /
             SUM(COUNT(*)) OVER (PARTITION BY declared_lang) AS share_of_declared
    FROM p GROUP BY declared_lang, predicted_lang
    """


@_q("text_lang_confusion", _lang_confusion_oracle())
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-quality audit: the confusion matrix between each
    document's DECLARED language tag and the stopword-heuristic
    prediction (``text_langid_heuristic``'s rule), with each cell's
    share of its declared row — the check that catches mislabeled
    corpora before per-language processing trusts the tag. Disagreement
    cells are the re-review queue.

    Scale shape: the per-doc prediction is pure Column arithmetic on the
    token array (no shuffle), the matrix is one map-side-combining
    aggregate over (declared, predicted) — at most |langs|² cells — and
    the row shares reuse the same tiny partitioning."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    base = d.select(
        F.col("lang").alias("declared_lang"), TX.words(F.col("text")).alias("toks")
    )
    s = {k: TX.stopword_hits(F.col("toks"), v) for k, v in TX.LANG_STOPWORDS.items()}
    predicted = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en"
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    cells = (
        base.select("declared_lang", predicted.alias("predicted_lang"))
        .groupBy("declared_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("declared_lang")
    return cells.select(
        "declared_lang",
        "predicted_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "share_of_declared"
        ),
    )


@_q(
    "events_value_outliers",
    """
    WITH s AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean,
             CAST(CAST(SUM(CAST(value * value AS DECIMAL(30,8))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS ex2
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.mean) / sqrt(s.ex2 - s.mean * s.mean) AS z
    FROM events e JOIN s USING (event_type)
    WHERE ABS((e.value - s.mean) / sqrt(s.ex2 - s.mean * s.mean)) >= 2.5
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value sits ≥2.5σ from
    their type's mean — the monitoring primitive behind alerting and
    fraud triage. The statistical moments are exact and ENGINE-STABLE:
    sums accumulate in DECIMAL (order-free), hop through VARCHAR to
    double (correctly-rounded strtod on both engines — the q8 lesson in
    BASELINE.md), and every following step (mean, E[x²]−mean², sqrt,
    the z division, the 2.5 threshold compare) is a single
    correctly-rounded IEEE op — so even boundary events classify
    identically on both engines, with no tolerance anywhere.

    Scale shape: one map-side-combining aggregate produces the per-type
    moments (|types| rows), which BROADCAST back onto the scan for a
    shuffle-free filter — the two-pass shape exact z-scores force (a
    one-pass approximation would trade exactness); at 100 TB both
    passes are full scans but neither shuffles the event stream."""
    e = load_table(spark, "events", sf_dir)
    v = F.col("value").cast(DEC)
    s = e.groupBy("event_type").agg(
        (F.sum(v).cast("string").cast("double") / F.count(F.lit(1))).alias("mean"),
        (
            F.sum((F.col("value") * F.col("value")).cast(DEC))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("ex2"),
    )
    z = (F.col("value") - F.col("mean")) / F.sqrt(
        F.col("ex2") - F.col("mean") * F.col("mean")
    )
    return (
        e.join(F.broadcast(s), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "event_type", "value", "z")
    )


@_q(
    "events_type_transitions",
    """
    WITH t AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions,
           CAST(COUNT(*) AS DOUBLE) /
             SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS p_next
    FROM t WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for each (prev → next) event-type pair, the transition count and the
    row-normalized probability — the model behind next-action
    prediction and the statistical summary of the session-path operator
    (paths enumerate journeys; this gives their one-step dynamics).

    Determinism: the lag follows the pinned (ts, event_id) total order;
    the probability is one division of exact counts. Scale shape: ONE
    hash partitioning by user for the lag, then a map-side-combining
    aggregate onto at most |types|² cells; row normalization reuses the
    tiny cell partitioning."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cells = t.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wn = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wn)).alias(
            "p_next"
        ),
    )


@_q(
    "events_interarrival_histogram",
    """
    WITH t AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS gap_us
      FROM events),
    b AS (
      SELECT event_type,
             CASE WHEN gap_us < 1000000 THEN '<1s'
                  WHEN gap_us < 60000000 THEN '1s-1m'
                  WHEN gap_us < 600000000 THEN '1m-10m'
                  WHEN gap_us < 3600000000 THEN '10m-1h'
                  WHEN gap_us < 86400000000 THEN '1h-1d'
                  ELSE '>=1d' END AS gap_bucket,
             gap_us
      FROM t WHERE gap_us IS NOT NULL)
    SELECT event_type, gap_bucket, COUNT(*) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM b GROUP BY event_type, gap_bucket
    """,
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile: per-user inter-event gaps bucketed into
    human-scale bands per event type — the traffic-shape check behind
    sessionization thresholds (the 10-minute gap rule used by
    ``events_sessionize`` should sit in a histogram valley, and this
    measures it) and rate-limit tuning. Band edges are integer
    microsecond comparisons, not float math — bit-stable by
    construction.

    Scale shape: the same single per-user hash partitioning as every
    sequence operator here, then a map-side-combining aggregate onto
    |types|×6 cells."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = F.col("us") - F.lag("us").over(w)
    gaps = e.select("event_type", g.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    bucket = (
        F.when(F.col("gap_us") < 1_000_000, "<1s")
        .when(F.col("gap_us") < 60_000_000, "1s-1m")
        .when(F.col("gap_us") < 600_000_000, "1m-10m")
        .when(F.col("gap_us") < 3_600_000_000, "10m-1h")
        .when(F.col("gap_us") < 86_400_000_000, "1h-1d")
        .otherwise(">=1d")
    )
    return gaps.groupBy("event_type", bucket.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@_q(
    "variant_extraction_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER)
             AS max_k
    FROM events GROUP BY event_type
    """,
)
def variant_extraction_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` converts the JSON string column to the binary variant
    encoding ONCE, then ``variant_get`` extracts typed paths without
    re-parsing — the engine-native answer to repeated
    ``get_json_object`` calls, which re-parse the string per extraction
    (``json_extraction_events`` keeps the string-parse twin for
    comparison; same oracle semantics). At warehouse scale the variant
    column is what you'd persist (shredded parquet), making every later
    path extraction a columnar read instead of a parse.
    """
    e = load_table(spark, "events", sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_INCREMENTAL_ORACLE = f"""
    WITH {_lsh_band_ctes(0.35)},
    cross_cand AS (
      SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS corpus_id
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.key = b.key
       AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
    cross_pairs AS (
      SELECT c.inc_id, c.corpus_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
      FROM cross_cand c
      JOIN sh a ON c.inc_id = a.doc_id
      JOIN sh b ON c.corpus_id = b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.35)
    SELECT inc_id, corpus_id, jaccard FROM cross_pairs
"""


@_q("dedup_incremental_probe", _INCREMENTAL_ORACLE)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup, gate-visible: documents split into an
    existing corpus (doc_id % 5 != 0) and a new batch (doc_id % 5 == 0),
    and the operator finds every near-dup (J >= 0.35) the BATCH has
    against the CORPUS — without forming corpus×corpus or batch×batch
    candidates (``operators/dedup.py::incremental_probe_pairs``). This
    is the shape every recurring crawl runs: the corpus's own pairs were
    resolved in prior ingests, so only probe-side work should scale with
    the batch. The oracle models the shared banding from the pinned
    band-key fixture restricted to batch×corpus collisions (see
    ``_lsh_band_ctes`` — exact for any corpus)."""
    d = load_table(spark, "documents", sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    increment = d.filter(F.col("doc_id") % 5 == 0)
    return DD.incremental_probe_pairs(corpus, increment, threshold=0.35)


# ---------------------------------------------------------------------------
# round-12 additions: training-order sharding, statistical LM quality
# scoring (CCNet-style), DSIR importance weighting, SemDeDup pruning
# ---------------------------------------------------------------------------

#: seed namespace for the deterministic training-order shuffle — a
#: contract constant (changing it re-shuffles every epoch's order)
_SHUFFLE_SEED = "shuf42"


@_q(
    "corpus_shuffle_shards",
    f"""
    WITH k AS (
      SELECT doc_id,
             md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents)
    SELECT doc_id,
           substring(skey, 1, 1) AS shard,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY substring(skey, 1, 1)
                ORDER BY skey, doc_id) AS BIGINT) AS pos
    FROM k
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded GLOBAL SHUFFLE into training shards — the
    step between a curated corpus and an epoch's read order: every doc
    gets a shard (16-way, the md5 key's first hex digit) and a position
    within the shard (md5 key order). The order is a pure function of
    (seed, doc_id): reproducible across runs/engines, and changing the
    seed constant is a full epoch re-shuffle.

    Scale shape: there is NO global sort — the md5 key hash-partitions
    docs into shards (one corpus-sized exchange) and each shard sorts
    locally (Spark's window sort per partition key). At 100 TB the
    per-shard sorts run in parallel and a writer emits shard files in
    position order; a global ORDER BY (one total-order range exchange)
    is exactly what this avoids. doc_id tie-breaks after the (unique)
    md5 key for belt-and-braces determinism."""
    d = load_table(spark, "documents", sf_dir)
    skey = F.md5(F.concat(F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")))
    k = d.select("doc_id", skey.alias("skey"), F.substring(skey, 1, 1).alias("shard"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return k.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


#: shared CTE: word tokens of every document (the ≥2-token slice that
#: can form bigrams) — the corpus the bigram LM is trained on and scored
#: over. Mirrors TX.words exactly.
_LM_TOKS_CTE = """
    t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2)
"""

_BIGRAM_LM_ORACLE = f"""
    WITH {_LM_TOKS_CTE},
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t2),
    docbg AS (
      SELECT doc_id, bigram, COUNT(*) AS dcnt FROM bg GROUP BY doc_id, bigram),
    c12 AS (
      SELECT bigram, CAST(SUM(dcnt) AS BIGINT) AS c12 FROM docbg GROUP BY bigram),
    c1 AS (
      SELECT string_split(bigram, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
      FROM c12 GROUP BY string_split(bigram, ' ')[1]),
    v AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(toks) AS w FROM t2)),
    typ AS (
      SELECT c12.bigram,
             CAST(floor((-ln(CAST(c12.c12 + 1 AS DOUBLE)
                              / CAST(c1.c1 + v.v AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS nllq
      FROM c12
      JOIN c1 ON string_split(c12.bigram, ' ')[1] = c1.w1, v)
    SELECT d.doc_id,
           CAST(SUM(d.dcnt) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.dcnt * ty.nllq) AS DOUBLE)
             / (CAST(SUM(d.dcnt) AS BIGINT) * 1000000.0) AS ce_nats
    FROM docbg d JOIN typ ty ON d.bigram = ty.bigram
    GROUP BY d.doc_id
"""


@_q("text_bigram_lm_score", _BIGRAM_LM_ORACLE)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet/KenLM-class filter,
    self-trained): an add-one-smoothed word-bigram LM is fit on the
    corpus itself and every document is scored by per-bigram
    cross-entropy ``ce_nats`` = mean −ln p(w₂|w₁) — low = fluent and
    in-distribution, high = noise/junk. The standard pretraining-data
    quality signal when no external LM is shippable.

    Cross-engine determinism of a transcendental: ``ln`` is NOT
    bit-stable between the JVM and libm (measured ~6% of values differ
    by 1 ulp), so the per-bigram-TYPE negative log-prob is quantized to
    1e-6 fixed point (``floor(x·1e6 + 0.5)`` — the same device as the
    kmeans centroid means) ON THE TYPE TABLE, then per-document sums are
    exact integer arithmetic and the final division is one IEEE op. A
    1-ulp ln wobble (≲1e-8 at this magnitude) only matters if a value
    sits within it of a floor boundary; tests/test_lm_scores.py measures
    the minimum boundary distance over every (c12, c1) type at the gate
    corpora (≳1e-3 — five orders of safety).

    Scale shape: tokenize once into per-(doc, bigram) counts (ONE
    corpus-sized shuffle with map-side combine); the LM tables (c12, c1,
    V) all derive from that compact type table; scoring joins doc-bigram
    counts to type nll on the bigram key — the only other corpus-scale
    shuffle, AQE-skew-safe because hot bigrams are single type-table
    rows. The vocab scalar V broadcasts. Nothing re-tokenizes.
    """
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toks.select("doc_id", F.explode(TX.ngrams(F.col("toks"), 2)).alias("bigram"))
    with DD.Staging() as st:
        docbg = st.pin(bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("dcnt")))
        c12 = docbg.groupBy("bigram").agg(F.sum("dcnt").alias("c12"))
        c1 = c12.groupBy(
            F.split(F.col("bigram"), " ").getItem(0).alias("w1")
        ).agg(F.sum("c12").alias("c1"))
        # V = distinct tokens over the >=2-token docs — derived from the
        # COMPACT bigram-type table, not a second corpus tokenize pass: in a
        # >=2-token doc every token position lands in a bigram half (first
        # word or second word), so the union of the halves IS the token set.
        # The oracle spells the same value from the tokens directly.
        v = (
            c12.select(F.explode(F.split(F.col("bigram"), " ")).alias("w"))
            .agg(F.countDistinct("w").alias("v"))
        )
        p = (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
        typ = (
            c12.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
            .join(c1, "w1")
            .crossJoin(F.broadcast(v))
            .select(
                "bigram",
                F.floor((-F.log(p)) * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .alias("nllq"),
            )
        )
        out = (
            docbg.join(typ, "bigram")
            .groupBy("doc_id")
            .agg(
                F.sum("dcnt").alias("n_bigrams"),
                F.sum(F.col("dcnt") * F.col("nllq")).alias("tot"),
            )
            .select(
                "doc_id",
                "n_bigrams",
                (
                    F.col("tot").cast("double")
                    / (F.col("n_bigrams") * F.lit(1000000.0))
                ).alias("ce_nats"),
            )
        )
        return st.own(out)


#: DSIR hashed-feature space: 256 buckets keyed by the first two hex
#: digits of md5(token) — engine-portable (md5 string compare, the same
#: device as the sampling strata) and collision-uniform.
_DSIR_TARGET_LANG = "en"

_DSIR_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    occ AS (
      SELECT doc_id, lang, substring(md5(w), 1, 2) AS bucket
      FROM (SELECT doc_id, lang, unnest(toks) AS w FROM t)),
    raw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY bucket),
    tgt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM occ
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket),
    tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM occ) AS nr,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM occ
              WHERE lang = '{_DSIR_TARGET_LANG}') AS nt),
    bw AS (
      SELECT raw.bucket,
             CAST(floor(ln((CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                            * CAST(tot.nr + 256 AS DOUBLE))
                           / (CAST(raw.cr + 1 AS DOUBLE)
                              * CAST(tot.nt + 256 AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lwq
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, tot),
    docb AS (
      SELECT doc_id, bucket, COUNT(*) AS dcnt FROM occ GROUP BY doc_id, bucket)
    SELECT d.doc_id,
           CAST(SUM(d.dcnt) AS BIGINT) AS n_tokens,
           CAST(SUM(d.dcnt * bw.lwq) AS DOUBLE) / 1000000.0 AS dsir_logweight
    FROM docb d JOIN bw ON d.bucket = bw.bucket
    GROUP BY d.doc_id
"""


@_q("dsir_importance_weights", _DSIR_ORACLE)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights over hashed unigram features: the target
    distribution is the corpus's ``lang = 'en'`` slice, the raw
    distribution is the whole corpus, features are 256 md5-prefix
    buckets, and each document's log importance weight is
    Σ_occurrences ln(p̂_target(b)/p̂_raw(b)) with add-one smoothing —
    resample by these weights to tilt a raw crawl toward the target
    domain. Output: (doc_id, n_tokens, dsir_logweight).

    Determinism: the per-BUCKET log-ratio is a single ``ln`` of one
    exactly-computed double ratio (integer products, one division),
    quantized to 1e-6 fixed point on the 256-row bucket table — the same
    ln-wobble containment as ``text_bigram_lm_score``; per-document sums
    are exact integer ops. Boundary distance is asserted in
    tests/test_lm_scores.py.

    Scale shape: one tokenize pass into per-(doc, bucket) counts (the
    only corpus-sized shuffle, 256-way bounded fan-in per doc with
    map-side combine); the raw/target bucket tables are 256 rows each,
    the weight table BROADCASTS, and the scoring join is map-side. The
    hashed-feature trick is exactly what makes DSIR run at crawl scale —
    the feature space never grows with the corpus.
    """
    d = load_table(spark, "documents", sf_dir)
    occ = d.select(
        "doc_id", "lang", F.explode(TX.words(F.col("text"))).alias("w")
    ).select(
        "doc_id", "lang", F.substring(F.md5(F.col("w")), 1, 2).alias("bucket")
    )
    with DD.Staging() as st:
        occ = st.pin(occ)
        raw = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
        tgt = occ.filter(F.col("lang") == _DSIR_TARGET_LANG).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("ct")
        )
        tot = occ.agg(
            F.count(F.lit(1)).alias("nr"),
            F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("nt"),
        )
        num = (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double") * (
            F.col("nr") + 256
        ).cast("double")
        den = (F.col("cr") + 1).cast("double") * (F.col("nt") + 256).cast("double")
        bw = (
            raw.join(tgt, "bucket", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "bucket",
                F.floor(F.log(num / den) * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .alias("lwq"),
            )
        )
        docb = occ.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("dcnt"))
        out = (
            docb.join(F.broadcast(bw), "bucket")
            .groupBy("doc_id")
            .agg(
                F.sum("dcnt").alias("n_tokens"),
                F.sum(F.col("dcnt") * F.col("lwq")).alias("tot"),
            )
            .select(
                "doc_id",
                "n_tokens",
                (F.col("tot").cast("double") / F.lit(1000000.0)).alias("dsir_logweight"),
            )
        )
        return st.own(out)


#: SemDeDup cosine threshold — high enough that only true semantic
#: twins prune (the planted ×2 twins sit at cosine ≈ 1.0)
_SEMDEDUP_TAU = 0.95


def _semdedup_oracle(tau: float) -> str:
    """Oracle for :func:`semdedup_prune`: 2 Lloyd rounds and the final
    assignment (``_lloyd_oracle``) over the PLANTED union ``eu``, then
    within-cluster keep-first cosine pruning at ``tau``."""
    return f"""
    WITH {_EMB_PLANT_CTE.strip()},
    {_lloyd_oracle("eu", 2)},
    e2 AS (
      SELECT eu.vec_id, eu.embedding, asg.cid,
             sqrt(list_reduce(list_transform(eu.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM eu JOIN asg USING (vec_id)),
    pr AS (
      SELECT b.vec_id AS vid, MIN(a.vec_id) AS kept_by
      FROM e2 a JOIN e2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0
        AND list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) >= {tau}
      GROUP BY b.vec_id)
    SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cluster_id,
           pr.kept_by IS NOT NULL AS is_pruned, pr.kept_by
    FROM asg LEFT JOIN pr ON asg.vec_id = pr.vid
"""


@_q("semdedup_prune", _semdedup_oracle(_SEMDEDUP_TAU))
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: kmeans the
    embedding space (``kmeans.semdedup``: 2 exact Lloyd rounds from the
    pinned init, then the final assignment), then within
    each cluster prune every vector whose cosine to a LOWER-id vector in
    the same cluster is ≥ τ (keep-first — the survivor rule the text
    dedup family uses). Runs on the PLANTED ×2-twin corpus so the gate
    pins a non-empty pruned set: a twin that lands in its original's
    cluster is pruned by it at cosine ≈ 1.0; a twin pulled into another
    cluster survives — the known SemDeDup property that cluster
    boundaries bound recall, here gate-visible.

    Output: (vec_id, cluster_id, is_pruned, kept_by) — the full audit
    form; filter ``NOT is_pruned`` for the surviving corpus.

    Scale shape: clustering is the SemDeDup scaling device — the
    all-pairs cosine bill is confined within clusters (K grows with the
    corpus to bound cluster size, the paper's operating point), so pair
    candidates are Σ|cluster|², never N². Assignment is the zero-shuffle
    broadcast argmin fold; the pair stage shuffles each member once on
    the int cluster id and scores a cluster in one numpy block. At
    100 TB with K ≈ N/5000, the per-cluster bill is ~5000² dot
    products."""
    return KM.semdedup(_planted_embeddings(spark, sf_dir), _KMEANS_K, _SEMDEDUP_TAU)


@_q("similarity_pq_topk", _ann_topk_oracle("pq"))
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via PRODUCT QUANTIZATION + exact re-rank
    (operators/similarity.py::pq_topk — 4 subspaces × 16 codewords,
    ADC shortlist 50). Hash-gated against the pinned frozen-run fixture
    (per-subspace seeded KMeans is deterministic — stability-asserted
    across shuffle settings before pinning); recall is separately gated
    by similarity_pq_recall and machinery exactness by the fullprobe
    twin (shortlist=None ≡ brute force)."""
    from cql_xmlpipe_spark.operators.similarity import pq_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return pq_topk(e, q, k=10)


@_q("similarity_pq_fullprobe_topk", _COSINE_ORACLE)
def similarity_pq_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ machinery under the exact-cosine oracle: with
    ``shortlist=None`` the ADC stage prunes nothing, so
    codebook-train → encode → LUT → ADC-score → exact-rerank must
    reproduce brute-force top-k EXACTLY (same tie-break: cos desc, id).
    Makes the PQ code path gate-visible end to end; the production
    shortlist-50 variant above stays fixture-pinned with a live recall
    gate."""
    from cql_xmlpipe_spark.operators.similarity import pq_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return pq_topk(e, q, k=10, shortlist=None)


@_q("similarity_pq_recall", _ann_recall_oracle("pq"))
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the PRODUCTION 4×16 shortlist-50 PQ: per-query recall@10
    vs live brute force against pinned frozen-run values (per-subspace
    seeded KMeans — deterministic). Machinery exactness is separately
    gated by similarity_pq_fullprobe_topk (shortlist=None ≡ brute
    force)."""
    return _ann_recall(spark, sf_dir, "pq")


@_q("similarity_ivfpq_topk", _ann_topk_oracle("ivfpq"))
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF-PQ (IVFADC, Jégou et al. PAMI 2011:
    16 coarse cells gate WHICH residual-encoded codes each query
    ADC-scans; n_probe 3, 4×16 codebooks, shortlist 50, exact cosine
    re-rank — operators/similarity.py::ivfpq_topk). Hash-gated against
    the pinned frozen-run fixture (coarse KMeans and per-subspace
    residual KMeans both seeded — deterministic, stability-asserted
    across shuffle settings before pinning); recall is separately gated
    by similarity_ivfpq_recall and machinery exactness by the fullprobe
    twin (n_probe=n_cells + shortlist=None ≡ brute force)."""
    from cql_xmlpipe_spark.operators.similarity import ivfpq_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivfpq_topk(e, q, k=10)


@_q("similarity_ivfpq_fullprobe_topk", _COSINE_ORACLE)
def similarity_ivfpq_fullprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ machinery under the exact-cosine oracle: with
    ``n_probe == n_cells`` every cell is probed and ``shortlist=None``
    disables ADC pruning, so coarse-train → residualize →
    codebook-train → cell-gate → exact-rerank must reproduce
    brute-force top-k EXACTLY (same tie-break: cos desc, id). Makes the
    composite path gate-visible end to end; the production n_probe-3
    shortlist-50 variant above stays fixture-pinned with a live recall
    gate."""
    from cql_xmlpipe_spark.operators.similarity import ivfpq_topk

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return ivfpq_topk(e, q, k=10, n_cells=16, n_probe=16, shortlist=None)


@_q("similarity_ivfpq_recall", _ann_recall_oracle("ivfpq"))
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the PRODUCTION 16-cell n_probe-3 4×16 shortlist-50
    IVF-PQ: per-query recall@10 vs live brute force against pinned
    frozen-run values (both KMeans stages seeded — deterministic).
    Machinery exactness is separately gated by
    similarity_ivfpq_fullprobe_topk."""
    return _ann_recall(spark, sf_dir, "ivfpq")


_GOPHER_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    base AS (
      SELECT doc_id, toks, len(toks) AS n_words,
             CAST(list_reduce(list_prepend(0::BIGINT,
                  list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                  (a, b) -> a + b) AS DOUBLE) / len(toks) AS mean_len,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE) / len(toks) AS alpha_frac,
             len(list_filter(['the','and','of','to','in','is','that','it',
                              'for','was'], s -> list_contains(toks, s)))
               AS n_stop
      FROM t WHERE len(toks) > 0),
    mode_w AS (
      SELECT doc_id, MAX(c) AS max_word
      FROM (SELECT doc_id, w, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS w FROM t)
            GROUP BY doc_id, w)
      GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           b.n_words BETWEEN 50 AND 100000 AS r_wordcount,
           b.mean_len >= 3.0 AND b.mean_len <= 10.0 AS r_meanlen,
           b.alpha_frac >= 0.8 AS r_alpha,
           b.n_stop >= 1 AS r_stop,
           CAST(m.max_word AS DOUBLE) / b.n_words <= 0.2 AS r_maxword,
           (b.n_words BETWEEN 50 AND 100000)
             AND b.mean_len >= 3.0 AND b.mean_len <= 10.0
             AND b.alpha_frac >= 0.8 AND b.n_stop >= 1
             AND CAST(m.max_word AS DOUBLE) / b.n_words <= 0.2 AS keep
    FROM base b JOIN mode_w m USING (doc_id)
"""


@_q("text_gopher_rules", _GOPHER_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-class rule-based quality FILTER VERDICTS (Rae et al. 2021
    §A1.1 / the RedPajama-v2 quality-signal recipe, restricted to rules
    the corpus's lines-free text can express): per document, named
    booleans for word count ∈ [50, 10⁵], mean word length ∈ [3, 10],
    ≥80% words containing a letter, ≥1 distinct English stopword (the
    synthetic corpus's 31-word vocabulary carries only 'the' from the
    stop inventory — Gopher's ≥2 would be vacuously false), and
    no single word above 20% of the tokens — plus the conjunction as
    ``keep``. Emitting per-rule verdicts (not just the final bit) is
    what makes threshold audits and rule ablations possible downstream.

    Scale shape: every rule but the mode is a per-row Column fold over
    the token array (zero shuffle); the mode-word rule tokenizes into
    per-(doc, word) counts — one corpus-sized shuffle with map-side
    combine, doc_id-keyed max — and joins back on doc_id. At 100 TB
    this is two scans and one combinable aggregate; no rule looks
    across documents."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.words(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    tok_len_sum = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    n_words = F.size("toks")
    mean_len = tok_len_sum.cast("double") / n_words
    alpha_frac = (
        F.size(F.filter(F.col("toks"), lambda x: x.rlike("[a-z]"))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in TX.LANG_STOPWORDS["en"]]),
            lambda s: F.array_contains(F.col("toks"), s),
        )
    )
    sig = base.select(
        "doc_id",
        "toks",
        n_words.alias("n_words"),
        mean_len.alias("mean_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
    )
    mode_w = (
        sig.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_word"))
    )
    j = sig.join(mode_w, "doc_id")
    r_wordcount = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    r_meanlen = (F.col("mean_len") >= 3.0) & (F.col("mean_len") <= 10.0)
    r_alpha = F.col("alpha_frac") >= 0.8
    r_stop = F.col("n_stop") >= 1
    r_maxword = F.col("max_word").cast("double") / F.col("n_words") <= 0.2
    return j.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        r_wordcount.alias("r_wordcount"),
        r_meanlen.alias("r_meanlen"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        r_maxword.alias("r_maxword"),
        (r_wordcount & r_meanlen & r_alpha & r_stop & r_maxword).alias("keep"),
    )


def _power_iter_oracle(n_iter: int) -> str:
    """Unrolled oracle for ``embedding_top_pc_power``: center by the
    fixed-point per-dim mean, start from the uniform unit vector, and
    run ``n_iter`` power iterations. Every arithmetic step is either
    exact integer math (the quantized cross-row sums), a single
    correctly-rounded IEEE op (products, divisions, sqrt), or a
    left-to-right double fold — no transcendentals — so the whole
    trajectory is bit-identical across engines with no wobble budget."""
    head = """
    e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
    comp AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, embedding
            FROM e)),
    mu AS (
      SELECT dim,
             CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1000000.0) AS m
      FROM comp GROUP BY dim),
    d AS (SELECT COUNT(*) AS nd FROM mu),
    xc AS (
      SELECT c.vec_id, c.dim, c.x - mu.m AS x
      FROM comp c JOIN mu USING (dim)),
    z0 AS (SELECT dim, 1.0 / sqrt(CAST(d.nd AS DOUBLE)) AS z FROM mu, d)
    """
    ctes = [head.strip()]
    for it in range(n_iter):
        ctes.append(f"""za{it} AS (
      SELECT list(z ORDER BY dim) AS zl FROM z{it})""")
        ctes.append(f"""s{it} AS (
      SELECT xc.vec_id,
             SUM(xc.x * za.zl[xc.dim + 1]) AS s
      FROM xc, za{it} za GROUP BY xc.vec_id, za.zl)""")
        # NOTE: the per-row dot above is a SUM over the row's dims — safe
        # because DuckDB and Spark both fold the per-(vec, dim) products
        # in dim order here? NO — cross-engine SUM order is NOT pinned,
        # so the dot is computed as an ordered list fold instead:
        ctes[-1] = f"""xr{it} AS (
      SELECT vec_id, list(x ORDER BY dim) AS xl FROM xc GROUP BY vec_id),
    s{it} AS (
      SELECT xr.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(xr.xl) + 1),
                 i -> xr.xl[i] * za.zl[i])), (a, b) -> a + b) AS s
      FROM xr{it} xr, za{it} za)"""
        ctes.append(f"""y{it} AS (
      SELECT xc.dim,
             CAST(SUM(CAST(floor(xc.x * s.s * 1000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS y
      FROM xc JOIN s{it} s USING (vec_id) GROUP BY xc.dim)""")
        ctes.append(f"""n{it} AS (
      SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list(y ORDER BY dim), v -> v * v)),
               (a, b) -> a + b)) AS nz
      FROM y{it})""")
        ctes.append(f"""z{it + 1} AS (
      SELECT y.dim, y.y / n.nz AS z FROM y{it} y, n{it} n)""")
    last = n_iter - 1
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(y.dim AS INTEGER) AS dim, y.y AS y, z.z AS component
    FROM y{last} y JOIN z{n_iter} z USING (dim)
"""
    )


@_q("embedding_top_pc_power", _power_iter_oracle(3))
def embedding_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by POWER ITERATION (3 rounds, centered)
    — the embedding post-processing primitive behind common-direction
    removal ("all-but-the-top", Mu & Viswanath 2018) and whitening
    diagnostics: z ← normalize(Σᵢ xᵢ(xᵢ·z)) over mean-centered vectors,
    from the uniform unit start. Output: (dim, y, component) — the
    final unnormalized accumulator and unit component per dimension.

    Why this is hash-exact with NO wobble budget (unlike the ln-based
    scores): the trajectory uses only exact integer sums (per-(row,dim)
    contributions quantized to 1e-6 fixed point — the kmeans-centroid
    device — so cross-row accumulation order can't matter), single
    correctly-rounded IEEE ops (products, divisions, sqrt), and
    left-to-right per-row dot folds. Both engines therefore compute
    bit-identical doubles at every iteration.

    Scale shape per iteration: broadcast the D-element z, one corpus
    scan computing per-row dots (codegen fold), one (dim)-keyed int64
    partial-sum shuffle of D rows per task — the same
    broadcast-out/tiny-agg-back pattern as the kmeans step, linear in
    corpus size, state is O(D). The tiny z table is localCheckpointed
    per round to keep lineage flat."""
    y, z_arr, _xc = _power_iterate(
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    zt = (
        z_arr.select(F.posexplode("zl").alias("dim", "component"))
        .withColumn("dim", F.col("dim").cast("int"))
    )
    return (
        y.withColumn("dim", F.col("dim").cast("int"))
        .join(zt, "dim")
        .select("dim", "y", "component")
    )


def _power_iterate(e: DataFrame):
    """3 centered power-iteration rounds over an (vec_id, embedding)
    frame: returns (y table, one-row z array frame, centered-row frame)
    — shared by the top-PC gate and its all-but-the-top consumer."""
    from cql_xmlpipe_spark.functions.vectors import dot as vdot

    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).withColumn("x", F.col("xf").cast("double"))
    mu = comp.groupBy("dim").agg(
        (
            F.sum(F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")).cast("double")
            / (F.count(F.lit(1)) * F.lit(1e6))
        ).alias("m")
    )
    mu_arr = mu.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("ml"),
        F.count(F.lit(1)).alias("nd"),
    ).localCheckpoint()
    xc = e.crossJoin(F.broadcast(mu_arr.select("ml"))).select(
        "vec_id",
        F.zip_with(
            "embedding", "ml", lambda x, m: x.cast("double") - m
        ).alias("xl"),
    )
    z_arr = mu_arr.select(
        F.transform(
            "ml", lambda _: F.lit(1.0) / F.sqrt(F.col("nd").cast("double"))
        ).alias("zl")
    ).localCheckpoint()
    y = None
    for _ in range(3):
        s = xc.crossJoin(F.broadcast(z_arr)).select(
            "vec_id", "xl", vdot(F.col("xl"), F.col("zl")).alias("s")
        )
        y = (
            s.select("vec_id", "s", F.posexplode("xl").alias("dim", "x"))
            .groupBy("dim")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("x") * F.col("s") * 1e6 + F.lit(0.5)).cast(
                            "long"
                        )
                    ).cast("double")
                    / F.lit(1e6)
                ).alias("y")
            )
        )
        z_arr = (
            y.agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "y"))),
                    lambda st: st["y"],
                ).alias("yl")
            )
            .select(
                F.transform(
                    "yl",
                    lambda v: v
                    / F.sqrt(
                        F.aggregate(
                            F.transform("yl", lambda w: w * w),
                            F.lit(0.0),
                            lambda a, b: a + b,
                        )
                    ),
                ).alias("zl")
            )
            .localCheckpoint()
        )
    return y, z_arr, xc


def _remove_top_pc_oracle() -> str:
    """Oracle for ``embedding_remove_top_pc``: the 3-round power CTEs,
    then the per-row all-but-the-top arithmetic — projection fold,
    component-wise residual, residual-norm fold — every op exact-rounded
    or an ordered fold, so rows hash-match bit-for-bit."""
    base = _power_iter_oracle(3)
    # keep everything up to (and excluding) the final SELECT, then
    # append the per-row consumer CTEs
    head = base[: base.rindex("SELECT CAST(y.dim AS INTEGER)")].rstrip()
    return (
        head
        + """,
    xr AS (
      SELECT vec_id, list(x ORDER BY dim) AS xl FROM xc GROUP BY vec_id),
    zal AS (SELECT list(z ORDER BY dim) AS zl FROM z3),
    pj AS (
      SELECT xr.vec_id, xr.xl, zal.zl,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(xr.xl) + 1),
                 i -> xr.xl[i] * zal.zl[i])), (a, b) -> a + b) AS proj
      FROM xr, zal)
    SELECT vec_id, proj,
           sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(1, len(xl) + 1),
               i -> (xl[i] - proj * zl[i]) * (xl[i] - proj * zl[i]))),
             (a, b) -> a + b)) AS norm_after
    FROM pj
"""
    )


@_q("embedding_remove_top_pc", _remove_top_pc_oracle())
def embedding_remove_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-BUT-THE-TOP applied (Mu & Viswanath 2018): center every
    embedding, project out the power-iterated top principal component,
    and report the per-vector audit — the projection magnitude ``proj``
    (how much of the vector lived in the common direction) and the
    residual norm ``norm_after``. The residual vectors themselves are
    the obvious third column at production time; the audit form keeps
    the gate row compact while pinning the same arithmetic (the
    residual norm is a fold over every residual component).

    Hash-exact like its producer: the z trajectory is the fixed-point
    power iteration (``embedding_top_pc_power``), and the per-row
    consumer arithmetic is one ordered dot fold + component-wise
    multiply-subtract-square + one ordered sum fold + sqrt — all
    correctly-rounded single ops, no wobble budget.

    Scale shape: one broadcast of the D-element (μ, z) out, ONE corpus
    scan computing both outputs per row inside codegen — the transform
    adds nothing beyond the power iteration's own per-round scan."""
    from cql_xmlpipe_spark.functions.vectors import dot as vdot

    _y, z_arr, xc = _power_iterate(
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    j = xc.crossJoin(F.broadcast(z_arr)).select(
        "vec_id", "xl", "zl", vdot(F.col("xl"), F.col("zl")).alias("proj")
    )
    resid_sq = F.zip_with(
        "xl", "zl", lambda x, z: (x - F.col("proj") * z) * (x - F.col("proj") * z)
    )
    return j.select(
        "vec_id",
        "proj",
        F.sqrt(
            F.aggregate(resid_sq, F.lit(0.0), lambda a, b: a + b)
        ).alias("norm_after"),
    )


_HARD_NEG_ORACLE = """
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_nrm
          FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.q_emb[i] AS DOUBLE))),
               (x, y) -> x + y) / (e.nrm * q.q_nrm) AS cos
      FROM e, q
      WHERE e.vec_id <> q.q_id AND e.label <> q.q_label
        AND e.nrm > 0 AND q.q_nrm > 0)
    SELECT q_id, vec_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY cos DESC, vec_id) AS INTEGER) AS rank, cos
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 10
"""


@_q("similarity_hard_negatives", _HARD_NEG_ORACLE)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training (the DPR/Contriever
    recipe): for each query vector, the top-10 most-cosine-similar
    vectors carrying a DIFFERENT label — the negatives that actually
    move a contrastive loss, as opposed to random negatives. Exact
    brute-force form (the verifier); swap the candidate generator for
    ``pq_topk``/``lsh_topk`` shortlists at corpus scale and keep the
    label anti-filter on the re-rank — the filter composes with any of
    the three ANN variants because it runs on the scored candidates.

    Scale shape: identical to ``similarity_cosine_topk`` (broadcast
    query set, codegen cosine folds, per-query rank window) plus one
    codegen label predicate — zero additional shuffles. Zero-norm
    vectors are excluded on both sides (cosine undefined)."""
    from cql_xmlpipe_spark.functions.vectors import dot as vdot
    from cql_xmlpipe_spark.functions.vectors import norm

    e = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .withColumn("nrm", norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") != F.col("q_label"))
        )
        .withColumn(
            "cos",
            vdot(F.col("embedding"), F.col("q_emb"))
            / (F.col("nrm") * F.col("q_nrm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "vec_id", "rank", "cos")
    )


#: stratum fraction for the kNN label audit — the established md5
#: device; queries scale by frac, the exact bill by frac·N
_KNN_AUDIT_FRAC = 0.25

_KNN_LABEL_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
      FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_nrm
          FROM e
          WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)
                  <= '{DD.stratum_hex_hi(_KNN_AUDIT_FRAC)}'
            AND nrm > 0),
    scored AS (
      SELECT q.q_id, q.q_label, e.label, e.vec_id,
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.q_emb[i] AS DOUBLE))),
               (x, y) -> x + y) / (e.nrm * q.q_nrm) AS cos
      FROM e, q WHERE e.vec_id <> q.q_id AND e.nrm > 0),
    topk AS (
      SELECT q_id, q_label, label,
             ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, vec_id) AS rn
      FROM scored)
    SELECT q_id, CAST(q_label AS INTEGER) AS label,
           CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same,
           CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
             / 10.0 AS consistency
    FROM topk WHERE rn <= 10
    GROUP BY q_id, q_label
"""


@_q("embedding_knn_label_consistency", _KNN_LABEL_ORACLE)
def embedding_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-NOISE AUDIT by kNN consistency (the deep-kNN mislabeling
    heuristic): for a deterministic md5 stratum of vectors, the fraction
    of each vector's 10 nearest neighbors (exact cosine) that share its
    label — rows with near-zero consistency are relabel/review
    candidates before the dataset trains anything. The stratum is the
    repo's standard sampling device: membership depends only on vec_id,
    so the audit is an unbiased sample and the exact bill scales by
    frac·N, not N².

    Scale shape: the stratum query side broadcasts, the corpus side
    streams through one codegen cosine scan, and the only shuffle is
    the per-query rank window on frac·N rows. At full-corpus audits the
    candidate generator swaps for banded sign-LSH exactly as in the
    recall gates."""
    return _knn_label_consistency(
        load_table(spark, "embeddings", sf_dir), _KNN_AUDIT_FRAC
    )


def _knn_label_consistency(emb: DataFrame, frac: float) -> DataFrame:
    """The audit pipeline with the stratum fraction as a parameter: the
    gate pins 25%; production (and the decade measurements) run ~0.1-1%
    — the exact bill is frac·N² dot folds, so frac is THE cost knob."""
    from cql_xmlpipe_spark.functions.vectors import dot as vdot
    from cql_xmlpipe_spark.functions.vectors import norm

    e = (
        emb
        .filter(F.col("embedding").isNotNull())
        .withColumn("nrm", norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
    )
    q = e.filter(DD.stratum_filter("vec_id", frac)).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos",
            vdot(F.col("embedding"), F.col("q_emb"))
            / (F.col("nrm") * F.col("q_nrm")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    same = F.when(F.col("label") == F.col("q_label"), 1).otherwise(0)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("q_id", F.col("q_label").alias("label"))
        .agg(
            F.sum(same).alias("n_same"),
            (F.sum(same).cast("double") / F.lit(10.0)).alias("consistency"),
        )
    )


_CCNET_BUCKETS_ORACLE = f"""
    WITH scored AS ({_BIGRAM_LM_ORACLE}),
    lg AS (SELECT doc_id, lang FROM documents),
    pr AS (
      SELECT s.doc_id, lg.lang, s.ce_nats,
             PERCENT_RANK() OVER (PARTITION BY lg.lang
                  ORDER BY s.ce_nats, s.doc_id) AS p
      FROM scored s JOIN lg USING (doc_id))
    SELECT doc_id, lang, ce_nats,
           CASE WHEN p < 1.0/3.0 THEN 'head'
                WHEN p < 2.0/3.0 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM pr
"""


@_q("text_ccnet_buckets", _CCNET_BUCKETS_ORACLE)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet SPLIT itself (Wenzek et al. 2020): per language, rank
    documents by their bigram-LM cross-entropy and cut into
    head/middle/tail terciles — head = most fluent third (what CCNet
    keeps for pretraining), tail = the noise third. Composes
    ``text_bigram_lm_score`` with a per-language percent_rank window;
    the tercile boundaries are the exact CCNet recipe with the LM
    self-trained instead of shipped.

    Determinism: percent_rank is (rank−1)/(n−1) over a fully-ordered
    (ce_nats, doc_id) sort — a rational of integers, bit-identical
    cross-engine; the 1/3 and 2/3 literals are the same doubles in
    both. Scale shape: the LM scoring plan plus ONE lang-keyed window
    (languages are few and large — a per-language sort, the same
    shape as `quality_percentile_filter`)."""
    with DD.Staging() as st:
        scored = st.adopt(text_bigram_lm_score(spark, sf_dir))
        lg = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
        w = Window.partitionBy("lang").orderBy("ce_nats", "doc_id")
        pr = scored.join(lg, "doc_id").withColumn("p", F.percent_rank().over(w))
        out = pr.select(
            "doc_id",
            "lang",
            "ce_nats",
            F.when(F.col("p") < 1.0 / 3.0, "head")
            .when(F.col("p") < 2.0 / 3.0, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        # the scoring stage's pinned doc-bigram table rides this query's
        # result (aggregating on top of scored would otherwise drop it)
        return st.own(out)


#: WordPiece-style vocabulary: every single character present in the
#: corpus (guarantees total coverage and greedy progress) plus the
#: top-64 most-frequent substrings of length 2..4, frequency weighted
#: by word occurrence count; ties broken by substring. Greedy
#: longest-match-first with max piece length 4.
_WP_TOP_SUBS = 64
_WP_MAX_LEN = 4

_WORDPIECE_ORACLE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, i AS wpos, toks[i] AS w
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
    wt AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    chars AS (
      SELECT DISTINCT substring(w, i, 1) AS piece
      FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM wt)),
    subs AS (
      SELECT substring(w, pr.i, pr.l) AS piece, SUM(cnt) AS c
      FROM (
        SELECT w, cnt,
               unnest(flatten(list_transform(range(2, {_WP_MAX_LEN} + 1),
                 l -> list_transform(range(1, len(w) - l + 2),
                        i -> {{'l': l, 'i': i}})))) AS pr
        FROM wt)
      GROUP BY piece),
    top_subs AS (
      SELECT piece FROM subs
      QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, piece) <= {_WP_TOP_SUBS}),
    vocab AS (SELECT piece FROM chars UNION SELECT piece FROM top_subs),
    cand AS (
      SELECT w, pr.i AS pos, pr.l AS l, substring(w, pr.i, pr.l) AS piece
      FROM (
        SELECT w,
               unnest(flatten(list_transform(range(1, {_WP_MAX_LEN} + 1),
                 l -> list_transform(range(1, len(w) - l + 2),
                        i -> {{'l': l, 'i': i}})))) AS pr
        FROM wt)),
    best AS (
      SELECT w, pos, l, piece FROM (
        SELECT c.w, c.pos, c.l, c.piece,
               ROW_NUMBER() OVER (PARTITION BY c.w, c.pos
                    ORDER BY c.l DESC) AS rn
        FROM cand c JOIN vocab v USING (piece))
      WHERE rn = 1),
    reach AS (
      SELECT w, 1 AS pos FROM wt
      UNION ALL
      SELECT b.w, b.pos + b.l FROM reach r
      JOIN best b ON b.w = r.w AND b.pos = r.pos),
    ws AS (
      SELECT b.w, array_to_string(list(b.piece ORDER BY b.pos), ' ')
               AS pieces_str,
             CAST(COUNT(*) AS INTEGER) AS n_pieces
      FROM reach r JOIN best b ON b.w = r.w AND b.pos = r.pos
      GROUP BY b.w)
    SELECT tok.doc_id,
           CAST(SUM(ws.n_pieces) AS BIGINT) AS n_wordpieces,
           md5(string_agg(ws.pieces_str, ' ' ORDER BY tok.wpos)) AS pieces_md5
    FROM tok JOIN ws USING (w)
    GROUP BY tok.doc_id
"""


@_q("text_wordpiece_tokenize", _WORDPIECE_ORACLE)
def text_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-STYLE TOKENIZATION, self-contained: build a
    deterministic subword vocabulary from the corpus itself (every
    character + the top-64 length-2..4 substrings by occurrence-weighted
    frequency), then segment every word by greedy longest-match-first —
    the inference-time algorithm of WordPiece/BERT tokenizers (Wu et
    al. 2016), with the vocab derived instead of shipped. Output per
    document: subword token count and an md5 fingerprint of the full
    in-order piece stream (the compact hash-comparable form of the
    token sequence).

    The segmentation itself runs over the WORD-TYPE table, not the
    corpus: greedy matching is inherently sequential per word, so it is
    an Arrow-batched pandas UDF (the zlib_bytes precedent — the hot
    loop is tight Python string slicing over each unique word once),
    with the ≤100-piece vocab carried in the closure. The oracle
    re-derives everything in SQL: the vocab CTEs, per-(word, position)
    longest-match via a rank window, and the greedy CHAIN as a
    recursive CTE over precomputed best-piece steps (each reached
    position has exactly one successor, so the recursion is the
    segmentation). Pure string/integer ops end to end — hash-exact with
    no float involved anywhere.

    Scale shape: tokenize once into (doc, pos, word) — the corpus-sized
    spine; everything vocabulary-ish (types, vocab, segmentation) is
    type-table-sized; the piece results join back on the word key and
    the per-doc fingerprint is one (doc_id)-keyed ordered aggregation.
    At 100 TB the type table is ~10⁸ rows segmented once — the whole
    point of typing before segmenting."""
    from pyspark.sql import types as T

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", TX.words(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    tok = toks.select("doc_id", F.posexplode("toks").alias("wpos0", "w"))
    with DD.Staging() as st:
        wt = st.pin(tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
        chars = (
            wt.select(
                F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"), "w"
            )
            .select(F.col("w").substr(F.col("i"), F.lit(1)).alias("piece"))
            .distinct()
        )
        sub_rows = wt.select(
            "w",
            "cnt",
            F.explode(F.sequence(F.lit(2), F.lit(_WP_MAX_LEN))).alias("l"),
        ).select(
            "w",
            "cnt",
            "l",
            F.explode(
                F.when(
                    F.length("w") - F.col("l") + 1 >= 1,
                    F.sequence(F.lit(1), F.length("w") - F.col("l") + 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        subs = sub_rows.select(
            F.col("w").substr(F.col("i"), F.col("l")).alias("piece"), "cnt"
        ).groupBy("piece").agg(F.sum("cnt").alias("c"))
        top_subs = subs.orderBy(F.col("c").desc(), "piece").limit(_WP_TOP_SUBS)
        vocab = chars.union(top_subs.select("piece")).distinct()
        pieces = {r["piece"] for r in vocab.collect()}  # ≤ alphabet + 64 rows
        max_len = _WP_MAX_LEN

        @F.pandas_udf(T.StringType())
        def segment(s: pd.Series) -> pd.Series:
            def seg(w: str) -> str:
                out, pos, n = [], 0, len(w)
                while pos < n:
                    for l in range(min(max_len, n - pos), 0, -1):
                        p = w[pos : pos + l]
                        if p in pieces:
                            out.append(p)
                            pos += l
                            break
                return " ".join(out)

            return s.map(seg)

        ws = wt.select(
            "w", segment(F.col("w")).alias("pieces_str")
        ).withColumn("n_pieces", F.size(F.split("pieces_str", " ")))
        out = (
            tok.join(ws, "w")
            .groupBy("doc_id")
            .agg(
                F.sum("n_pieces").cast("long").alias("n_wordpieces"),
                F.md5(
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("wpos0", "pieces_str"))
                            ),
                            lambda s: s["pieces_str"],
                        ),
                    )
                ).alias("pieces_md5"),
            )
        )
        return st.own(out)


_LM_HOLDOUT_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents),
    t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    tr AS (SELECT doc_id, toks FROM t2 WHERE doc_id % 5 <> 0),
    ho AS (SELECT doc_id, toks FROM t2 WHERE doc_id % 5 = 0),
    trbg AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM tr),
    c12 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12
            FROM trbg GROUP BY bigram),
    c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           FROM c12 GROUP BY string_split(bigram, ' ')[1]),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(toks) AS w FROM tr)),
    hobg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM ho),
    hodoc AS (
      SELECT doc_id, bigram, COUNT(*) AS dcnt FROM hobg GROUP BY doc_id, bigram),
    typ AS (
      SELECT h.doc_id, h.dcnt,
             CAST(floor((-ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                              / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) AS nllq,
             CASE WHEN c12.bigram IS NULL THEN h.dcnt ELSE 0 END AS oov
      FROM hodoc h
      LEFT JOIN c12 ON h.bigram = c12.bigram
      LEFT JOIN c1 ON string_split(h.bigram, ' ')[1] = c1.w1, v)
    SELECT doc_id,
           CAST(SUM(dcnt) AS BIGINT) AS n_bigrams,
           CAST(SUM(oov) AS BIGINT) AS n_oov_bigrams,
           CAST(SUM(dcnt * nllq) AS DOUBLE)
             / (CAST(SUM(dcnt) AS BIGINT) * 1000000.0) AS ce_nats
    FROM typ GROUP BY doc_id
"""


@_q("text_bigram_lm_score_holdout", _LM_HOLDOUT_ORACLE)
def text_bigram_lm_score_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FROZEN-LM production shape of ``text_bigram_lm_score``: train
    the add-one bigram LM on the standing slice (``doc_id % 5 != 0``)
    and score the HELD-OUT slice (``% 5 == 0``) against it — what a
    recurring-crawl quality gate actually runs (the LM is fit once per
    corpus release, new data is scored against it). Unseen bigrams and
    unseen contexts take c=0 under the same smoothing — the OOV path
    the self-scored gate can never exercise — and ``n_oov_bigrams``
    reports how far out-of-distribution each new doc is.

    Scale shape: identical to the self-scored operator (type-table LM,
    compact join keys) except the scoring side is BATCH-sized, not
    corpus-sized — the per-ingest cost law of the incremental dedup
    family, applied to quality scoring. The streaming composition
    (``streaming/lm.py``) stages these LM tables once and scores every
    micro-batch through the same helper."""
    d = load_table(spark, "documents", sf_dir)
    train = d.filter(F.col("doc_id") % 5 != 0)
    holdout = d.filter(F.col("doc_id") % 5 == 0)
    from cql_xmlpipe_spark.streaming.lm import score_docs_with_lm, stage_bigram_lm

    with DD.Staging() as st:
        lm = stage_bigram_lm(train)
        st.pin(lm[0])
        st.pin(lm[1])
        return st.own(score_docs_with_lm(lm, holdout))


_DECONTAM_FUZZY_ORACLE = f"""
    WITH {_lsh_band_ctes(0.5)},
    cross_cand AS (
      SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.key = b.key
       AND a.doc_id % 4 <> 0 AND b.doc_id % 4 = 0),
    cross_pairs AS (
      SELECT c.train_id, c.eval_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
      FROM cross_cand c
      JOIN sh a ON c.train_id = a.doc_id
      JOIN sh b ON c.eval_id = b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.5)
    SELECT train_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
           MAX(jaccard) AS max_jaccard,
           MIN(eval_id) AS first_eval_id
    FROM cross_pairs
    GROUP BY train_id
"""


@_q("text_decontaminate_fuzzy", _DECONTAM_FUZZY_ORACLE)
def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate companion of
    ``text_decontaminate_eval_overlap``: exact 8-gram overlap misses a
    training doc that paraphrases or lightly edits an eval item, but
    MinHash near-dup detection at J ≥ 0.5 catches it. Training docs
    (``doc_id % 4 != 0`` — the same split as the exact gate) are probed
    against the eval slice through the asymmetric banded-LSH join
    (``incremental_probe_pairs`` with the eval slice as the standing
    corpus — no train×train or eval×eval candidates), then flagged docs
    aggregate to (n_eval_matches, max_jaccard, first_eval_id) — linear
    output, one row per contaminated training doc.

    Scale shape: identical to the incremental-ingest probe — the eval
    set indexes once (it is tiny next to training data), the training
    side streams through the band-key join, and at 100 TB this is the
    standard decontamination pass the exact-overlap filter runs next
    to."""
    d = load_table(spark, "documents", sf_dir)
    eval_slice = d.filter(F.col("doc_id") % 4 == 0)
    train = d.filter(F.col("doc_id") % 4 != 0)
    with DD.Staging() as st:
        pairs = st.adopt(DD.incremental_probe_pairs(eval_slice, train, threshold=0.5))
        out = pairs.groupBy(F.col("inc_id").alias("train_id")).agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
            F.min("corpus_id").alias("first_eval_id"),
        )
        # keep the probe's staged-index pins on this query's result
        return st.own(out)


_CLUSTER_SAFE_SPLIT_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT v AS doc_id, cluster_id,
           CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND '7'
                THEN 'train' ELSE 'dev' END AS split
    FROM lab
"""


@_q("dataset_split_cluster_safe", _CLUSTER_SAFE_SPLIT_ORACLE)
def dataset_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-PROOF train/dev splitting — the fix for what
    ``dataset_split_leakage`` detects: the split key is the NEAR-DUP
    FAMILY (connected components over exact-Jaccard-verified pairs at
    J ≥ 0.5), not the document, so a family can never straddle the
    split — near-duplicates of a dev doc cannot leak into train by
    construction, where the naive md5(doc_id) rule provably leaks on
    sf0.1's duplicate groups. Same portable hash rule as the audit
    (first md5 hex digit in 0-7 → train, ~50%), applied to the family's
    min-id label; singletons are their own family, so unclustered docs
    split exactly like the naive rule.

    Scale shape: rides the full dedup cluster-assignment pipeline
    (banded LSH candidates → exact verify → CC over bare longs — the
    deliberate staging cost measured volume-flat at the decades), then
    one md5 over the label. Splitting by family is the standard remedy
    (Lee et al. 2022 §5): dedup-aware eval requires the split to
    respect the duplicate graph."""
    d = load_table(spark, "documents", sf_dir)
    with DD.Staging() as st:
        ca = st.adopt(DD.cluster_assign_collapsed(d, threshold=0.5, k=3))
        out = ca.select(
            "doc_id",
            "cluster_id",
            F.when(
                F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1).between(
                    "0", "7"
                ),
                "train",
            )
            .otherwise("dev")
            .alias("split"),
        )
        return st.own(out)


_SURVIVOR_QUALITY_ORACLE = f"""
    WITH RECURSIVE {_lsh_band_ctes(0.5)},
    edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b AS v, id_a AS w FROM pairs
    ),
    reach AS (
      SELECT doc_id AS v, doc_id AS r FROM documents
      UNION
      SELECT e.w AS v, reach.r AS r FROM reach JOIN edges e ON reach.v = e.v
    ),
    lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
    fam AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM lab),
    scored AS ({_BIGRAM_LM_ORACLE}),
    ranked AS (
      SELECT f.cluster_id, f.doc_id, f.cluster_size, s.ce_nats,
             ROW_NUMBER() OVER (PARTITION BY f.cluster_id
                  ORDER BY s.ce_nats ASC NULLS LAST, f.doc_id) AS rn
      FROM fam f LEFT JOIN scored s USING (doc_id)
      WHERE f.cluster_size >= 2)
    SELECT cluster_id, doc_id AS survivor_id, ce_nats AS survivor_ce,
           CAST(cluster_size AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
"""


@_q("dedup_survivor_by_quality", _SURVIVOR_QUALITY_ORACLE)
def dedup_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE survivor selection — the production survivor policy
    for near-dup families: instead of keep-first (min id) or
    keep-longest (``dedup_survivor_selection``), keep the member with
    the LOWEST bigram-LM cross-entropy (most fluent); unscored members
    (<2 word tokens) rank last, ties break by doc_id. One row per
    multi-member family: (cluster_id, survivor_id, survivor_ce,
    n_members).

    Composes the two measured pipelines: cluster assignment (banded LSH
    → exact verify → CC over bare longs) and the self-trained LM
    scores, joined on doc_id and ranked inside each family — the join
    and window touch only family members, never the full corpus."""
    with DD.Staging() as st:
        ca = st.adopt(DD.cluster_assign_collapsed(
            load_table(spark, "documents", sf_dir), threshold=0.5, k=3
        )).filter(F.col("cluster_size") >= 2)
        scored = st.adopt(text_bigram_lm_score(spark, sf_dir))
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("ce_nats").asc_nulls_last(), F.col("doc_id")
        )
        out = (
            ca.join(scored.select("doc_id", "ce_nats"), "doc_id", "left")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "cluster_id",
                F.col("doc_id").alias("survivor_id"),
                F.col("ce_nats").alias("survivor_ce"),
                F.col("cluster_size").cast("long").alias("n_members"),
            )
        )
        return st.own(out)


#: per-(lang, bucket) quota for the deterministic eval-suite sampler
_EVAL_SUITE_QUOTA = 5

_EVAL_SUITE_ORACLE = f"""
    WITH bucketed AS ({_CCNET_BUCKETS_ORACLE}),
    ranked AS (
      SELECT doc_id, lang, bucket, ce_nats,
             ROW_NUMBER() OVER (PARTITION BY lang, bucket
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
      FROM bucketed)
    SELECT doc_id, lang, bucket, ce_nats,
           CAST(pick_rank AS INTEGER) AS pick_rank
    FROM ranked WHERE pick_rank <= {_EVAL_SUITE_QUOTA}
"""


@_q("eval_suite_sampler", _EVAL_SUITE_ORACLE)
def eval_suite_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED EVAL-SUITE construction: from every
    (language × quality-tercile) stratum of the CCNet split, pick the
    first 5 documents in md5(doc_id) order — a reproducible,
    engine-portable eval suite that covers the full quality range of
    every language instead of over-sampling the head (the bias a naive
    random sample of the corpus has). The md5 order is the repo's
    standard portable sampling device: membership and rank depend only
    on the id, so the suite is stable across runs, engines and
    partitionings, and re-drawing after a corpus refresh changes only
    the strata whose membership changed.

    Scale shape: rides the CCNet split (LM scoring + one per-language
    window), then one (lang, bucket)-keyed rank window over the already
    language-partitioned rows — at 100 TB the strata are few and the
    per-stratum sort is the same exchange the tercile split already
    paid."""
    with DD.Staging() as st:
        bucketed = st.adopt(text_ccnet_buckets(spark, sf_dir))
        w = Window.partitionBy("lang", "bucket").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        out = (
            bucketed.withColumn("pick_rank", F.row_number().over(w))
            .filter(F.col("pick_rank") <= _EVAL_SUITE_QUOTA)
            .select("doc_id", "lang", "bucket", "ce_nats", "pick_rank")
        )
        return st.own(out)


# ---------------------------------------------------------------------------
# round 14: skew-hardened twins of the per-user sequence gates.
# The r13 sessionize measurement (SCALE.md) showed a 20M-event hot user
# serializing the plain per-user window into one 40-58 s straggler task;
# sessionize_bucketed fixed sessionize. These twins apply the same
# pre-bucket + stitch device (operators/sessionize.py::bucketed_prev /
# bucketed_row_number) to the remaining raw-user-key window gates —
# identical output (same oracles), event-volume windows keyed on
# (user, day-bucket). window_top3_orders_per_customer needs no twin:
# its rank<=3 filter gets Spark 4's partial WindowGroupLimit, which cuts
# every input partition to <=3 rows per customer BEFORE the shuffle.
# ---------------------------------------------------------------------------

from cql_xmlpipe_spark.plans.queries import ORACLE as _ORACLE  # noqa: E402


@_q("events_type_transitions_bucketed", None)
def events_type_transitions_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened :func:`events_type_transitions`: the per-user lag
    rides ``bucketed_prev`` — (user, day) windows + a per-bucket
    last-value carry — so a hot user's transition counting parallelizes
    across the days they touched instead of sorting their whole history
    in one task. Same output, same oracle."""
    from cql_xmlpipe_spark.operators.sessionize import bucketed_prev

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t = (
        bucketed_prev(e, "event_type")
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("prev_type"), F.col("event_type").alias("next_type"))
    )
    cells = t.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wn = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wn)).alias(
            "p_next"
        ),
    )


@_q("events_user_ewma_bucketed", None)
def events_user_ewma_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened :func:`events_user_ewma`: the per-user ROW_NUMBER
    and COUNT ride ``bucketed_row_number`` — local rank within
    (user, day) plus a running count over per-bucket summaries — then
    the identical segmented affine fold. The hot user's O(n log n) sort
    spreads across their days; the segment fold was already skew-free
    (groupBy (user, seg) splits a 20M-event user into ~4.5k groups).
    Same output bit-for-bit, same oracle."""
    from cql_xmlpipe_spark.operators.sessionize import bucketed_row_number

    e = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.coalesce(F.col("value").cast("double"), F.lit(0.0)).alias("v"),
    )
    r = bucketed_row_number(e).select(
        "user_id",
        "v",
        "rn",
        F.ceil(F.sqrt(F.col("_n_user").cast("double"))).alias("ss"),
    )
    return _ewma_segment_fold(r)


@_q("events_session_paths_bucketed", None)
def events_session_paths_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened :func:`events_session_paths`: local per-(user, day)
    sessionization collects LOCAL path fragments (one aggregate, no
    event-volume per-user sort), the sessionize_bucketed chain-stitch
    merges fragments crossing day cuts, and the final path is the
    in-order concatenation of fragments — equal to the plain gate's
    string because buckets partition the (us, event_id) order. Per-row
    output size is still the session's own path length — that is the
    QUERY's semantics (any engine materializes the path string); what
    this twin removes is the hot user's single-task event sort. Same
    output, same oracle."""
    from cql_xmlpipe_spark.operators.sessionize import (
        DEFAULT_BUCKET_US,
        DEFAULT_GAP_US,
        _sessionize_within,
    )

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    b = e.withColumn("_bkt", F.floor(F.col("us") / F.lit(DEFAULT_BUCKET_US)))
    local = (
        _sessionize_within(b, ["user_id", "_bkt"], DEFAULT_GAP_US)
        .groupBy("user_id", "_bkt", "_sid")
        .agg(
            F.min("us").alias("_st"),
            F.max("us").alias("_en"),
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("us", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("_lp"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("_st", "_bkt", "_sid")
    new_c = F.when(
        (F.col("_st") - F.lag("_en").over(w) > DEFAULT_GAP_US)
        | F.lag("_en").over(w).isNull(),
        1,
    ).otherwise(0)
    w2 = w.rowsBetween(W.unboundedPreceding, 0)
    chained = local.withColumn("_new_c", new_c).withColumn(
        "session_id", F.sum("_new_c").over(w2)
    )
    paths = chained.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_st", "_bkt", "_sid", "_lp"))
                ),
                lambda s: s["_lp"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# the twins run under the SAME oracles as their plain forms — register
# after both definitions so the dict lookups see the plain entries
_ORACLE["events_type_transitions_bucketed"] = _ORACLE["events_type_transitions"]
_ORACLE["events_user_ewma_bucketed"] = _ORACLE["events_user_ewma"]
_ORACLE["events_session_paths_bucketed"] = _ORACLE["events_session_paths"]


@_q("similarity_ivf_topk_staged", _ann_topk_oracle("ivf"))
def similarity_ivf_topk_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once/query-many decomposition of ``similarity_ivf_topk``
    (r14: operators/similarity.py::ivf_build + ivf_query): the SAME
    pinned fixture gates it, so staged ≡ per-call is oracle-enforced,
    not just pytest-pinned. Production builds the index per INGEST and
    amortizes it over every query batch — per-call KMeans retraining
    was the r13 verdict's 'minor' scale note."""
    from cql_xmlpipe_spark.operators.similarity import ivf_build, ivf_query

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    assignments, centers = ivf_build(e)
    return ivf_query(e, q, assignments, centers, k=10)


@_q("similarity_pq_topk_staged", _ann_topk_oracle("pq"))
def similarity_pq_topk_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once/query-many decomposition of ``similarity_pq_topk``
    (r14: pq_build + pq_query) under the same pinned fixture — staged
    codes + codebooks reproduce the per-call operator bit-for-bit."""
    from cql_xmlpipe_spark.operators.similarity import pq_build, pq_query

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    codes, books = pq_build(e)
    return pq_query(e, q, codes, books, k=10)


@_q("similarity_ivfpq_topk_staged", _ann_topk_oracle("ivfpq"))
def similarity_ivfpq_topk_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once/query-many decomposition of
    ``similarity_ivfpq_topk`` (ivfpq_build + ivfpq_query) under the
    same pinned fixture — staged (cell, code) index + centers +
    codebooks reproduce the per-call composite bit-for-bit. Production
    persists all three via ann_index_write (kind='ivfpq') per ingest."""
    from cql_xmlpipe_spark.operators.similarity import ivfpq_build, ivfpq_query

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    index, centers, books = ivfpq_build(e)
    return ivfpq_query(e, q, index, centers, books, k=10)


@_q("similarity_topk_blocked", _COSINE_ORACLE)
def similarity_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUERY-BLOCK path of ``topk_matmul`` under the same all-pairs
    oracle (r14, closes the r13 'two LARGE sets' gap): ``max_query_mb=0``
    plants the |Q|-beyond-closure-budget shape at gate scale, so the
    five query vectors split into five one-row blocks — five shortlist
    scans whose candidate unions feed ONE exact re-rank. Hash-exact
    against the oracle ⇒ blocked ≡ unblocked ≡ brute, cos bits
    included; SCALE.md records the decade run (hash-identical at
    jit-100×, ~n_blocks corpus scans)."""
    from cql_xmlpipe_spark.operators.similarity import topk_matmul

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return topk_matmul(e, q, k=10, max_query_mb=0)
