"""Deduplication operators for large-scale text corpora.

Five strategies, each designed for the shuffle profile it implies at
100 TB:

* **exact** — ``groupBy(text)`` would shuffle full documents; we shuffle a
  256-bit content hash instead (constant-width keys, map-side combine).
* **MinHash + LSH** — per-doc signatures via ``xxhash64`` Column exprs
  (JVM-side, no Python), banded into bucket keys; candidate pairs come
  from a self-join on (band, bucket-hash) — the only shuffle is on small
  band keys, never on text — then true Jaccard verifies candidates.
* **SimHash** — 64-bit signature from token-hash bit votes (explode +
  groupBy bit aggregation), Hamming-banded for candidates.
* **n-gram Jaccard** — exact pairwise within small blocking groups
  (the verifier used by LSH; standalone only for modest block sizes).
* **embedding cosine** — near-dup via cosine ≥ threshold on embeddings
  (delegates to operators/similarity.py scoring).
"""

from __future__ import annotations

import operator
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from cql_xmlpipe_spark.functions.text import shingles, words
from cql_xmlpipe_spark.functions.vectors import (
    cosine_safe,
    eligible_vector,
    norm,
    vector_family_key,
)

N_MINHASH = 64
N_BANDS = 16  # 16 bands x 4 rows; s-curve threshold ~ (1/16)^(1/4) ~ 0.5


class Staging:
    """The one owner of the frames an operator persists.

    Dedup operators pin compact intermediates (shingle-hash sets,
    signatures, membership maps) that must stay cached until the LAZY
    result they feed is consumed, so they cannot be released before the
    operator returns. A ``Staging`` scopes them::

        with Staging() as st:
            sets = st.pin(shingle_hash_sets(df))  # persist and own
            pairs = st.adopt(sub_operator(...))   # take over its pins
            return st.own(result)                 # hand the pins on

    Leaving the block releases every frame not handed to a result with
    :meth:`own` — all of them when an exception escapes, so no refusal
    or failure path leaks a pinned frame. Whoever consumes a returned
    result releases what it owns with :func:`unpersist_intermediates`.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._handed = 0

    def __enter__(self) -> Staging:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            del self._frames[: self._handed]
        self.release()

    def pin(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and own it. A frame someone else already
        persisted (e.g. :func:`stage_corpus_lsh`'s) is taken over as is."""
        if not df.is_cached:
            df.persist()
        self._frames.append(df)
        return df

    def adopt(self, result: DataFrame) -> DataFrame:
        """Take over the frames ``result`` owns; returns ``result``."""
        owned = getattr(result, "_xmlpipe_cached", [])
        self._frames += owned
        owned.clear()
        return result

    def own(self, result: DataFrame) -> DataFrame:
        """Hand every frame owned here to ``result`` and return it."""
        result._xmlpipe_cached = list(self._frames)  # type: ignore[attr-defined]
        self._handed = len(self._frames)
        return result

    def release(self, blocking: bool = False) -> None:
        for df in self._frames:
            try:
                df.unpersist(blocking)
            except Exception:  # pragma: no cover - session already stopped
                pass
        self._frames = []
        self._handed = 0


def unpersist_intermediates(result: DataFrame, blocking: bool = False) -> None:
    """Release the frames a dedup result owns — call it after consuming
    the result (safe on any DataFrame; a no-op when it owns nothing)."""
    st = Staging()
    st.adopt(result)
    st.release(blocking)


class PairOutputBudgetExceeded(ValueError):
    """Pre-flight output arithmetic shows a pair-contract run would emit
    more rows than the caller's ``max_pairs`` cap allows. The fix is
    almost always the roster contract (:func:`minhash_groups_collapsed` /
    :func:`embedding_near_dup_groups`), not a bigger cluster: the pair
    volume is the CONTRACT's, C(k,2) per k-clone family, and no physical
    plan can shrink it."""


def default_max_pairs() -> int | None:
    """The pair-contract output cap user-facing entry points apply when
    the caller does not choose one: ``SPARK_GRAFT_MAX_PAIRS`` (env, ``0``
    disables) or 10**9 rows. Library calls keep ``max_pairs=None`` —
    a default cap would burn a count action on every programmatic call
    and gate corpora are small — but anything reachable from a command
    line (``dedup_cli``) resolves through here, so a production operator
    gets the refusal instead of the intractable job without having to
    know the parameter exists."""
    raw = os.environ.get("SPARK_GRAFT_MAX_PAIRS")
    if raw is None:
        return 1_000_000_000
    try:
        cap = int(raw)
    except ValueError:
        # a clean, actionable error instead of an uncaught traceback on
        # every dedup_cli launch when the env carries '1e9' or ''
        raise ValueError(
            f"SPARK_GRAFT_MAX_PAIRS must be a base-10 integer row count, "
            f"got {raw!r} (e.g. 1000000000; 0 disables the cap)"
        ) from None
    return None if cap <= 0 else cap


def _guard_clone_stats(df: DataFrame, key_cols: list):
    """STAGE 1 of the house two-stage pair-budget guard: price the
    exact-clone output from content-key group sizes. Within a key group
    of size g every member pair is a true output row BY CONTRACT, so
    Σ g·(g−1)/2 (``Σ g·(g−1)`` for the ordered contracts — callers
    double ``bound``) lower-bounds output rows — cheap arithmetic that
    needs no signature/shingle work. Returns Row(bound, g_max) where
    ``bound`` is the unordered pair count."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("g"))
        .agg(
            F.sum(F.expr("g * (g - 1) DIV 2")).alias("bound"),
            F.max("g").alias("g_max"),
        )
        .collect()[0]
    )


def _guard_band_stats(keys: DataFrame, band_col: str, bucket_cols: list):
    """STAGE 2: price the banded candidate volume — a jittered hot
    family defeats stage 1 (all content keys distinct) yet still
    collides in the banded index. Within ONE band, Σ C(bucket, 2)
    counts DISTINCT pairs (each pair collides at most once per band),
    and the candidate union contains every band's collision set, so the
    max over bands lower-bounds distinct candidate verifications. One
    aggregation over the (persisted) key table before the self-join
    launches. Returns Row(bound, n_max)."""
    return (
        keys.groupBy(band_col, *bucket_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(band_col)
        .agg(
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("cand"),
            F.max("n").alias("m"),
        )
        .agg(F.max("cand").alias("bound"), F.max("m").alias("n_max"))
        .collect()[0]
    )


def _enforce_pair_budget(max_pairs: int, bound, message: str) -> None:
    """Raise :class:`PairOutputBudgetExceeded` when ``bound`` exceeds
    ``max_pairs``. Every pair contract's guard stages funnel through
    here, and every guard runs inside its operator's :class:`Staging`
    block, so the refusal releases what the operator pinned."""
    if (bound or 0) > max_pairs:
        raise PairOutputBudgetExceeded(message)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text; flag the rest.

    Shuffles on sha2(text) (32 bytes/row), not the document itself.
    """
    h = F.sha2(F.col(text_col), 256)
    w = W.partitionBy(h)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("keep_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    ).withColumn("is_duplicate", F.col(id_col) != F.col("keep_id"))


def paragraph_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = r"\n{2,}",
    min_chars: int = 1,
) -> DataFrame:
    """Per-doc cross-document duplicate-paragraph statistics.

    Split each document into paragraphs (blank-line delimited by
    default), hash each trimmed paragraph, and flag paragraphs whose
    hash occurs in ≥ 2 DISTINCT documents. Emits per doc: paragraph
    count, duplicated-paragraph count (every occurrence counts), and
    the duplicate fraction — the boilerplate/template signal an LLM
    pretraining pipeline filters on, complementing the 8-gram
    cross-doc signal (which catches sub-paragraph duplication).

    Scale shape: after the explode, only (doc_id, 32-byte sha256)
    rows exist — paragraph text never crosses a shuffle. The dup-hash
    set (one row per cross-doc duplicated paragraph) is the small side
    of the join-back; AQE broadcasts it below the threshold, exactly
    like the cross-doc n-gram join-back.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), delim)).alias("para"),
        )
        .filter(F.length(F.trim(F.col("para"))) >= min_chars)
        .select(F.col(id_col), F.sha2(F.trim(F.col("para")), 256).alias("ph"))
    )
    dup = (
        paras.groupBy("ph")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ph")
        .withColumn("is_dup", F.lit(1))
    )
    return (
        paras.join(dup, "ph", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_dup_paras"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_paras").cast("double") / F.col("n_paras").cast("double"),
        )
    )


def shingle_hash_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, hs: array<long>) — distinct xxhash64 per k-shingle, docs with ≥1.

    Pure narrow projection (no shuffle): each shingle string is hashed
    ONCE; everything downstream (minhash families, exact-Jaccard verify)
    derives from these 8-byte values, never from text again.
    """
    sh = shingles(words(F.col(text_col)), k)
    hashed = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    return df.select(F.col(id_col), hashed.alias("hs")).filter(F.size("hs") > 0)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) — one row per doc with ≥1 shingle.

    Public text-in wrapper over :func:`_minhash_sigs`, which owns the
    signature math (seeded xxhash64 re-hash, fused codegen'd
    min-aggregates — see its docstring for why collect_set stays out of
    that aggregate). Verification sets come from
    :func:`shingle_hash_sets` as a shuffle-free projection instead.
    """
    return _minhash_sigs(shingle_hash_sets(df, text_col, id_col, k), id_col)


def _minhash_sigs(sets: DataFrame, id_col: str) -> DataFrame:
    """(id, mh_0..mh_{N_MINHASH-1}) from a shingle-hash-set projection —
    THE single definition of the signature math (seeded xxhash64 re-hash,
    fused min-aggregates); both the symmetric self-join path and the
    asymmetric incremental-probe path build on this so the banding scheme
    can never silently diverge between them. Keeping collect_set OUT of
    this aggregate is deliberate — any typed-collection aggregate
    downgrades the whole node to ObjectHashAggregate (no codegen, ~3×
    slower measured at sf0.01); with plain mins it compiles to a
    whole-stage-codegen HashAggregate with map-side partials."""
    exploded = sets.select(F.col(id_col), F.explode("hs").alias("h"))
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh_{i}")
        for i in range(N_MINHASH)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def _band_keys():
    """The banded bucket-key array over mh_* columns — the single
    definition of the N_BANDS × rows_per_band layout (pairs with
    :func:`_minhash_sigs`; change banding math here and only here)."""
    rows_per_band = N_MINHASH // N_BANDS
    return F.array(
        *[
            F.xxhash64(
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(N_BANDS)
        ]
    )


def _candidate_pairs(
    left: DataFrame, right: DataFrame, id_col: str, keys: list, names: tuple, keep
) -> DataFrame:
    """Candidate generation for every pair operator: ``left ⋈ right`` on
    the ``keys`` columns carrying only the id (renamed to ``names``),
    ``keep`` applied to the two ids — ``operator.lt`` for a self-join's
    a < b, ``operator.ne`` for a probe's cross pairs — then deduplicated
    to bare id pairs. Only fixed-width keys and ids cross the shuffle;
    payloads are fetched afterwards by :func:`_fetch`."""
    a, b = names
    return (
        left.select(F.col(id_col).alias(a), *keys)
        .join(right.select(F.col(id_col).alias(b), *keys), keys)
        .filter(keep(F.col(a), F.col(b)))
        .select(a, b)
        .distinct()
    )


def _fetch(
    cands: DataFrame, left: DataFrame, right: DataFrame, id_col: str, col: str,
    prefix: str,
) -> DataFrame:
    """Join each candidate pair to its two payloads by id: ``left``'s
    ``col`` as ``<prefix>_a`` on the first id, ``right``'s as
    ``<prefix>_b`` on the second."""
    a, b = cands.columns
    return cands.join(
        left.select(F.col(id_col).alias(a), F.col(col).alias(f"{prefix}_a")), a
    ).join(right.select(F.col(id_col).alias(b), F.col(col).alias(f"{prefix}_b")), b)


def _jaccard_verify(
    cands: DataFrame, left: DataFrame, right: DataFrame, id_col: str,
    threshold: float, col: str = "hs",
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs against the
    two sides' hash sets (``col``): (a, b, jaccard >= threshold)."""
    a, b = cands.columns
    pairs = _fetch(cands, left, right, id_col, col, "sh").filter(
        # PPJoin length filter (exactness-preserving): J(A,B) >= t requires
        # |A| >= t|B| and |B| >= t|A| — prune before the O(|A|+|B|)
        # intersection, which dominates verification cost
        (F.size("sh_a") >= threshold * F.size("sh_b"))
        & (F.size("sh_b") >= threshold * F.size("sh_a"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _cosine_verify(
    cands: DataFrame, left: DataFrame, right: DataFrame, id_col: str,
    emb_col: str, threshold: float,
) -> DataFrame:
    """Exact cosine verification of candidate pairs: (a, b, cos >=
    threshold), scored with ``cosine_safe`` (NULL on a zero denominator)
    as defense in depth behind the eligibility push-down."""
    a, b = cands.columns
    return (
        _fetch(cands, left, right, id_col, emb_col, "e")
        .withColumn("cos", cosine_safe(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cos") >= threshold)
        .select(a, b, "cos")
    )


def _membership_map(df: DataFrame, text_col: str, id_col: str, *block) -> DataFrame:
    """(id, [block,] rep) over identical texts: ``rep`` is the group's min
    id. sha256 keys cross the wire, never text; the min is a window over
    the hash partitioning — one exchange and one scan of the hash
    projection, where a groupBy plus join-back costs two (min over the
    window == the group's min). ``block`` (aliased columns) widens the
    key: identical texts under different blocks stay apart."""
    th = df.select(F.col(id_col), *block, F.sha2(F.col(text_col), 256).alias("_th"))
    keys = th.columns[1:-1]
    return th.select(
        F.col(id_col), *keys, F.min(id_col).over(W.partitionBy(*keys, "_th")).alias("rep")
    )


def _expand_rep_pairs(
    mem: DataFrame, eligible: DataFrame, rep_pairs: DataFrame, id_col: str
) -> DataFrame:
    """Expand representative pairs to member pairs through the
    membership map: every pair within an ``eligible`` group (identical
    texts, Jaccard exactly 1.0) plus every member pair of a rep pair
    (same sets, hence the same Jaccard)."""
    em = mem.join(eligible, "rep")
    within = (
        em.select("rep", F.col(id_col).alias("ma"))
        .join(em.select("rep", F.col(id_col).alias("mb")), "rep")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("id_a"),
            F.col("mb").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("id_a"), F.col(id_col).alias("ma")), "id_a"
        )
        .join(
            mem.select(F.col("rep").alias("id_b"), F.col(id_col).alias("mb")), "id_b"
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    sets: DataFrame | None = None,
    max_pairs: int | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with true shingle Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Shuffle profile (the 100 TB shape): candidate generation self-joins on
    (band, bucket) carrying ONLY (id, band, bucket) — fixed-width longs,
    never text or arrays; pairs are deduped as bare id pairs; only then are
    the two shingle-hash sets fetched by id-join for exact verification.
    AQE splits hot buckets (skew join).

    ``sets`` lets a caller hand in an already-persisted
    :func:`shingle_hash_sets` projection of ``df`` (the collapsed wrapper
    reuses it as the shingle-eligibility filter); ownership of that cache
    stays with the caller.

    ``max_pairs`` here is the CANDIDATE-volume stage of the guard (the
    text twin of the embedding operator's second stage): a
    NEAR-identical hot family — every clone rewritten in a few tokens —
    defeats the collapsed wrapper's exact-clone arithmetic (reps all
    distinct) yet still collides in the banded index, implying ~J⁴-scaled
    C(g,2) candidate verifications per band. Σ C(bucket, 2) within one
    band lower-bounds distinct candidate pairs (the candidate union
    contains every band's collision set); the max over bands is checked
    in one aggregation over the cached signature projection before the
    self-join launches, raising :class:`PairOutputBudgetExceeded` past
    the cap. The collapsed wrapper composes this with its output
    arithmetic under the same parameter."""
    # the hash-set projection feeds the minhash aggregate AND both verify
    # joins; persist the compact form (id + 8-byte shingle hashes — ~100×
    # smaller than text) instead of recomputing tokenization 3×.
    with Staging() as st:
        if sets is None:
            sets = st.pin(shingle_hash_sets(df, text_col, id_col, k))
        # a caller-supplied ``buckets`` is an already-staged (id, band,
        # bucket) index over exactly the docs in ``sets`` (derived from a
        # persisted superset staging — band keys are per-text
        # deterministic, so a subset slice of the staged index IS the
        # subset's index); no signature aggregate to run or persist then
        if buckets is None:
            # persist: the banded buckets feed BOTH sides of the candidate
            # self-join; without this the 64-min aggregation executes twice
            # (measured 6× wall at sf0.1). One row per doc, 65 longs — tiny.
            sigs = st.pin(_minhash_sigs(sets, id_col))
            buckets = sigs.select(
                F.col(id_col), F.posexplode(_band_keys()).alias("band", "bucket")
            )
        if max_pairs is not None:
            bstats = _guard_band_stats(buckets, "band", ["bucket"])
            _enforce_pair_budget(
                max_pairs,
                bstats["bound"],
                f"minhash_lsh_pairs: one LSH band alone implies >= "
                f"{bstats['bound'] or 0:,} distinct candidate pairs to verify "
                f"(hottest bucket {bstats['n_max'] or 0:,} docs), over "
                f"max_pairs={max_pairs:,} — a near-identical (jittered) hot "
                "family that exact-clone collapse cannot fold. "
                "minhash_groups_collapsed bounds the OUTPUT to one roster "
                "row per family (the candidate-verify cost remains — the "
                "family's texts are distinct); raise max_pairs only if "
                "that verify bill is budgeted.",
            )
        cands = _candidate_pairs(
            buckets, buckets, id_col, ["band", "bucket"], ("id_a", "id_b"), operator.lt
        )
        return st.own(_jaccard_verify(cands, sets, sets, id_col, threshold))


def _collapse_prelude(
    st: Staging,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int,
    max_pairs: int | None = None,
    staged: tuple[DataFrame, DataFrame] | None = None,
    mem: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared exact-duplicate collapse staging for the two collapsed
    operators: returns ``(mem, eligible, rep_pairs)`` where ``mem`` is
    the (id, rep) :func:`_membership_map` over identical texts,
    ``eligible`` the (rep) ids of the shingle-bearing groups — read off
    the persisted shingle-hash projection of the representatives, which
    also feeds the inner LSH (ONE tokenization of the reps) — and
    ``rep_pairs`` the verified near-dup pairs between representatives.
    Everything it pins (and the LSH's own pins) goes into the caller's
    staging ``st``. The sha256 hash projection behind ``mem`` is not
    persisted: it is scanned once, and a dead cache flowing through the
    ownership API would invite a caller to assume it is pinned.

    ``mem`` lets a caller hand in an already-persisted (id, rep)
    membership map over ``df``, so one sha256 window serves several
    collapses of the same corpus (see :func:`minhash_recall_sampled`).
    The map must be exactly the (sha256(text), min-id) collapse of
    ``df``; its pin stays with the caller.

    ``max_pairs`` runs the guard's two stages IN COST ORDER before any
    LSH work: stage-1 (here) prices the exact-clone output from the
    eligible collapse-group sizes — the cheap arithmetic that needs no
    signatures; stage-2 (inside :func:`minhash_lsh_pairs`) bounds
    candidate volume from the banded index — which only jittered
    families reach, after stage-1 has already passed."""
    if mem is None:
        mem = st.pin(_membership_map(df, text_col, id_col))
    # a representative is the row whose id IS the group min — no distinct
    # pass needed (each rep appears exactly once as its own member)
    rep_ids = mem.filter(F.col(id_col) == F.col("rep")).select(F.col(id_col))
    rep_docs = df.join(rep_ids, id_col, "left_semi")
    if staged is not None:
        # caller-owned full-corpus staging (stage_corpus_lsh over df):
        # shingle sets and band keys are per-text deterministic, so the
        # representative slices are plain semi-joins of the persisted
        # staging — no second tokenize/shingle/sign pass over df.
        # buckets may be None (sets-only staging: the caller shares the
        # tokenized projection but nobody else needs the banded index, so
        # signatures still run over the representative slice only)
        s_sets, s_buckets = staged
        sets = st.pin(s_sets.join(rep_ids, id_col, "left_semi"))
        rep_buckets = (
            s_buckets.join(rep_ids, id_col, "left_semi")
            if s_buckets is not None
            else None
        )
    else:
        sets = st.pin(shingle_hash_sets(rep_docs, text_col, id_col, k))
        rep_buckets = None
    eligible = sets.select(F.col(id_col).alias("rep"))
    if max_pairs is not None:
        stats = _guard_clone_stats(mem.join(eligible, "rep"), ["rep"])
        _enforce_pair_budget(
            max_pairs,
            stats["bound"],
            f"minhash_lsh_pairs_collapsed: exact-clone families alone imply "
            f">= {stats['bound'] or 0:,} output pair rows (largest family "
            f"{stats['g_max'] or 0:,} docs => C({stats['g_max'] or 0:,}, 2) rows), over "
            f"max_pairs={max_pairs:,}. The pair contract is irreducibly "
            "quadratic in clone-family size; use minhash_groups_collapsed "
            "(one roster row per family, linear output) or raise max_pairs.",
        )
    rep_pairs = st.adopt(minhash_lsh_pairs(
        rep_docs, text_col, id_col, threshold, k,
        sets=sets, max_pairs=max_pairs, buckets=rep_buckets,
    ))
    return mem, eligible, rep_pairs


def minhash_lsh_pairs_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_pairs: int | None = None,
    staged: tuple[DataFrame, DataFrame] | None = None,
    mem: DataFrame | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with exact-duplicate collapse — the
    production staging every large-corpus dedup runs (exact-dedup first,
    near-dedup over the survivors). IDENTICAL output by construction:

    * identical texts have identical shingle-hash sets, so every
      within-group pair is a guaranteed candidate (identical signatures
      collide in all bands) with Jaccard exactly 1.0 — emitted directly;
    * any cross-group member pair has the same sets — hence the same
      banding fate and the same Jaccard — as its representative pair, so
      rep pairs expand through the membership map unchanged.

    Why it matters at scale: LSH/verify cost drops from O(corpus) to
    O(distinct texts) and — decisive on clone-heavy corpora — the
    verify join shrinks from O(clone²) candidate rows with array
    intersections to O(rep-pair) verifications plus a cheap key-only
    expansion join (the quadratic *output* is irreducible: the contract
    returns all qualifying pairs). Measured at the 100× century smoke
    (every doc carrying 99 clones): 56.3 → 7.1 s. Groups whose texts
    produce zero shingles never entered the LSH universe before and are
    excluded from expansion ("eligible" semi-join) — zero-shingle docs
    emit no pairs, exactly as before.

    ``max_pairs`` (opt-in here; :func:`default_max_pairs` applies it at
    the CLI layer) is the scale guard-rail: BEFORE the LSH/verify
    pipeline runs, the already-computed collapse-group sizes price the
    output — exact-clone families alone imply Σ C(g,2) pair rows, a
    LOWER bound on the contract's volume (near-dup cross pairs only add
    to it). Only ELIGIBLE families are priced (semi-join against the
    shingle-bearing rep set — zero-shingle texts emit no pairs, so
    counting them would overstate the bound and refuse corpora whose hot
    family never pairs); that makes the bound a true lower bound, and
    the eligibility scan is the same persisted ``sets`` projection the
    pipeline needs next, so the pre-flight merely materializes it early.
    Past the cap this raises :class:`PairOutputBudgetExceeded` pointing
    at :func:`minhash_groups_collapsed` instead of launching a job whose
    OUTPUT is intractable by arithmetic — at the skew-100× smoke one
    50,000-clone family means 1.25B rows before the first near-dup is
    even found (SCALE.md). A SECOND stage runs under the same
    parameter: a near-identical (jittered) hot family defeats the clone
    arithmetic (reps all distinct) but still collides in the banded
    index, so :func:`minhash_lsh_pairs` additionally lower-bounds
    distinct candidate pairs from the per-band bucket sizes of the rep
    signature index and refuses past the cap — the text twin of the
    embedding operator's bucket guard, run strictly AFTER the cheap
    arithmetic stage (see :func:`_collapse_prelude`). None (default)
    skips both stages."""
    with Staging() as st:
        mem, eligible, rep_pairs = _collapse_prelude(
            st, df, text_col, id_col, threshold, k, max_pairs, staged=staged, mem=mem
        )
        return st.own(_expand_rep_pairs(mem, eligible, rep_pairs, id_col))


def cluster_assign_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """``connected_components`` over near-dup pairs with the same
    exact-duplicate collapse as :func:`minhash_lsh_pairs_collapsed`, and
    the same output by construction: identical texts form cliques, so a
    component of the full pair graph is the union of the text groups of
    the corresponding representative component, and min-label semantics
    survive collapse because each rep IS its group's min id — the min id
    of a component equals the min rep of the rep-level component. The CC
    loop therefore iterates over |distinct texts| vertices and rep-pair
    edges instead of |corpus| and O(clone²) edges (100× century smoke:
    116.7 → 9.0 s); members inherit their rep's label through one
    key-only join, sizes come from one count, and docs outside eligible
    groups (zero shingles) fall through to the singleton path exactly as
    in the uncollapsed formulation."""
    with Staging() as st:
        labeled = _labeled_collapsed(st, df, text_col, id_col, threshold, k)
        clustered = labeled.select(
            F.col(id_col),
            "cluster_id",
            F.count(F.lit(1)).over(W.partitionBy("cluster_id")).alias("cluster_size"),
        )
        singletons = (
            df.select(id_col)
            .join(labeled.select(id_col), id_col, "left_anti")
            .select(
                F.col(id_col),
                F.col(id_col).alias("cluster_id"),
                F.lit(1).cast("long").alias("cluster_size"),
            )
        )
        return st.own(clustered.unionByName(singletons))


def _labeled_collapsed(
    st: Staging,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int,
    staged: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Shared collapse→LSH→verify→CC→member-fan-back stage: returns
    ``labeled``, (id, cluster_id) for every doc in an ELIGIBLE
    (shingle-bearing) text group, labels being min-id CC components over
    the representative pair graph; its pins go into the caller's
    staging ``st``. Docs outside eligible groups are absent —
    :func:`cluster_assign_collapsed` adds them back as singletons; the
    roster contract never needs them."""
    mem, eligible, rep_pairs = _collapse_prelude(
        st, df, text_col, id_col, threshold, k, staged=staged
    )
    # the rep set without a distinct pass: a representative is the member
    # whose id equals the group min (same device as _collapse_prelude)
    cc = connected_components(
        mem.filter(F.col(id_col) == F.col("rep")).select(F.col(id_col)), rep_pairs
    )
    return (
        mem.join(eligible, "rep")
        .join(cc.select(F.col(id_col).alias("rep"), "cluster_id"), "rep")
        .select(F.col(id_col), "cluster_id")
    )


def minhash_groups_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    staged: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-dup CLUSTER ROSTERS — (cluster_id, cluster_size, sorted
    members) for every multi-doc cluster — the LINEAR-output dedup
    contract production consumers actually want. The pair contract
    (:func:`minhash_lsh_pairs_collapsed`) is irreducibly C(k,2) in clone-
    family size: one 5k-clone family emits 12.5M pair rows (measured
    37.8 s at the skew-10× smoke) that downstream consumers immediately
    re-aggregate into the family. This emits the family itself: one row,
    one k-element id array (~8k·bytes — the deliverable, not blow-up).

    Rides the same collapse→LSH→verify→CC→member-fan-back stage as
    :func:`cluster_assign_collapsed` (shared :func:`_labeled_collapsed`),
    so per-node state is bounded by the LSH bucket caps and the CC
    loop's |V| labels; the only family-sized value is the final member
    array — the output's own size, one map-side-combining collect per
    cluster. Round 9: aggregates the labeled membership DIRECTLY —
    the per-row cluster_size window and the singleton anti-join union
    that cluster_assign's row contract needs are pure waste here (the
    groupBy recomputes the size it would filter on, and singletons can
    never reach size ≥ 2). Exchange count is unchanged (the window
    shared the aggregation's cluster_id partitioning); what the roster
    plan stops paying is the corpus-sized per-partition SORT + window
    evaluation + the anti-join union subtree — a wash at smoke scale
    (A/B'd: 7.8-9.9 vs 8.2-8.5 s at sf0.1), a full sort of 10⁹
    membership rows avoided at target scale. Output identical, pinned
    by the recursive-CTE oracle. Singleton docs are omitted: "no
    duplicates" is the complement, not a row per doc at 100 TB."""
    with Staging() as st:
        labeled = _labeled_collapsed(
            st, df, text_col, id_col, threshold, k, staged=staged
        )
        groups = (
            labeled.groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cluster_size"),
                F.sort_array(F.collect_list(F.col(id_col))).alias("members"),
            )
            .filter(F.col("cluster_size") >= 2)
        )
        return st.own(groups)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    threshold: float = 0.8,
    k: int = 3,
    min_shingles: int = 5,
    max_pairs: int | None = None,
) -> DataFrame:
    """Exact ASYMMETRIC shingle containment within blocking groups:
    ordered pairs (src, tgt) with C(src→tgt) = |S(src) ∩ S(tgt)| /
    |S(src)| >= ``threshold`` — the quote/boilerplate/subset detector
    Jaccard misses: a short doc fully embedded in a long one has tiny
    Jaccard (intersection over the big union) but containment 1.0.
    ``min_shingles`` floors the src side so trivially-short docs don't
    flag on a single shared phrase. ``block_col=None`` disables blocking
    (one global block — corpora without a language column).

    Candidate generation is the PPJoin prefix filter ADAPTED to the
    asymmetric measure: C >= t forces >= ceil(t·|A|) of A's shingles
    into B, so by pigeonhole A must share an element inside its first
    |A| − ceil(t·|A|) + 1 canonically-sorted shingles — only SRC
    prefixes enter the index, but the TGT side posts its FULL shingle
    list (B's length is unconstrained; that is the asymmetry).
    Verification recomputes true containment on the sorted hash arrays
    after the one exactness-preserving length filter C >= t ⇒
    |B| >= t·|A|. Same inverted-index shuffle shape as
    :func:`ngram_jaccard_pairs`; at clone-heavy scale the same
    exact-duplicate collapse staging applies (representatives pair,
    members expand).

    ``max_pairs`` is the house pre-flight output guard, TWO stages in
    cost order like the MinHash/embedding families:

    * **exact-clone arithmetic** — within a (block, text) clone family
      of size g every ORDERED member pair is a containment-1.0 row
      (same shingle set), so eligible families alone imply Σ g·(g−1)
      output rows — priced from sha256 group sizes before any shingle
      work (measured 576.9 s at the jittered-100× decade without a
      cap: the output is irreducibly quadratic in clone-family size).
    * **prefix-posting candidate volume** — a jittered hot family
      (every copy's text rewritten in a few tokens) defeats the clone
      arithmetic (all sha256 keys distinct) yet still shares its
      smallest shingle hashes, which land in EVERY family member's
      PPJoin prefix. At one (block, shingle) key the colliding
      (src, tgt) pairs are distinct and src prefixes are a subset of
      tgt postings, so n_src·(n_tgt−1) ordered pairs collide there;
      the max over keys lower-bounds distinct candidate pairs. Priced
      on the cached ``base`` projection before the inverted-index join
      launches.

    Past either cap this raises :class:`PairOutputBudgetExceeded`
    toward the roster/dedup contracts exactly like the Jaccard family."""
    sh = shingles(words(F.col(text_col)), k)
    block = F.col(block_col) if block_col is not None else F.lit("_")
    if max_pairs is not None:
        stats = _guard_clone_stats(
            df.filter(F.size(sh) >= min_shingles),
            [block.alias("block"), F.sha2(F.col(text_col), 256)],
        )
        _enforce_pair_budget(
            max_pairs,
            2 * (stats["bound"] or 0),  # ordered contract: g·(g−1) per family
            f"ngram_containment_pairs: exact-clone families alone imply "
            f">= {2 * (stats['bound'] or 0):,} ORDERED output rows (largest "
            f"family {stats['g_max'] or 0:,} docs => g*(g-1) rows), over "
            f"max_pairs={max_pairs:,}. Containment output is irreducibly "
            "quadratic in clone-family size; dedup first (groups "
            "contract) or raise max_pairs.",
        )
    with Staging() as st:
        base = st.pin(
            df.select(
                F.col(id_col),
                block.alias("block"),
                F.sort_array(F.transform(sh, lambda s: F.xxhash64(s))).alias("sh"),
            )
            .filter(F.size("sh") > 0)
        )
        n = F.size("sh")
        prefix_len = (n - F.ceil(n * threshold) + 1).cast("int")
        if max_pairs is not None:
            pref_keys = (
                base.filter(n >= min_shingles)
                .select("block", F.explode(F.slice("sh", 1, prefix_len)).alias("s"))
                .groupBy("block", "s")
                .agg(F.count(F.lit(1)).alias("_ns"))
            )
            post_keys = (
                base.select("block", F.explode("sh").alias("s"))
                .groupBy("block", "s")
                .agg(F.count(F.lit(1)).alias("_nt"))
            )
            cstats = (
                pref_keys.join(post_keys, ["block", "s"])
                .agg(
                    F.max(F.col("_ns") * (F.col("_nt") - 1)).alias("bound"),
                    F.max("_nt").alias("n_max"),
                )
                .collect()[0]
            )
            _enforce_pair_budget(
                max_pairs,
                cstats["bound"],
                f"ngram_containment_pairs: one prefix-posting key alone implies "
                f">= {cstats['bound'] or 0:,} distinct ORDERED candidate pairs to "
                f"verify (hottest shingle posted by {cstats['n_max'] or 0:,} docs), "
                f"over max_pairs={max_pairs:,} — a near-identical (jittered) hot "
                "family the exact-clone arithmetic cannot see; its replica pairs "
                "still verify at containment >= threshold, so the output bill is "
                "as quadratic as the candidate bill. Dedup first (groups "
                "contract) or raise max_pairs only if that bill is budgeted.",
            )
        src_pref = base.filter(n >= min_shingles).select(
            F.col(id_col), "block", F.explode(F.slice("sh", 1, prefix_len)).alias("s")
        )
        tgt_post = base.select(F.col(id_col), "block", F.explode("sh").alias("s"))
        cands = _candidate_pairs(
            src_pref, tgt_post, id_col, ["block", "s"], ("src_id", "tgt_id"), operator.ne
        )
        verified = _fetch(cands, base, base, id_col, "sh", "sh").filter(
            F.size("sh_b") >= threshold * F.size("sh_a")
        )
        containment = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
            "sh_a"
        )
        return st.own(
            verified.withColumn("containment", containment)
            .filter(F.col("containment") >= threshold)
            .select("src_id", "tgt_id", "containment")
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    threshold: float = 0.5,
    k: int = 3,
    hash_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise shingle Jaccard within blocking groups, via inverted
    index — NOT a block² cross join.

    ``hash_sets``: an already-persisted :func:`shingle_hash_sets`
    projection of ``df`` (same ``k``) — the sorted-hash base is then a
    plain id-join of (id, block) against ``sort_array(hs)`` instead of a
    second tokenize/shingle/hash pass over the text (the hash multiset
    is identical: both paths transform the same distinct-shingle array).
    Callers staging one corpus projection for several pipelines (the
    recall gates run this AND the MinHash path on the same stratum) pass
    it here; ownership of that cache stays with the caller.

    Explode distinct shingles, self-join on (block, shingle): only pairs
    that actually share a shingle are ever materialized, and the group-by
    count IS the intersection size — no array payloads cross the shuffle.
    Same result set as the naive cross product (any pair with jaccard > 0
    shares ≥1 shingle) at a fraction of the cost; the LSH path above is
    still the first choice at 100 TB (this one degrades on stop-shingles).

    Verification joins each candidate to both docs' sorted shingle-hash
    arrays and takes ``array_intersect`` — 3.4× faster, in both run
    orders at the jittered decade, than counting matched (pair, element)
    rows without arrays (SCALE.md "Round-8 A/B").
    """
    # sorted distinct shingle hashes = canonical global order for the
    # PREFIX FILTER (PPJoin principle): if J(A,B) >= t, the two sets must
    # share an element within the first |X| - ceil(t*|X|) + 1 elements of
    # each — so only prefixes enter the inverted index. Exactness is
    # preserved (verification below recomputes true Jaccard); candidate
    # volume drops ~(1-t) and frequency-skewed shingles mostly fall out
    # of prefixes, which is what keeps this viable at corpus scale.
    with Staging() as st:
        if hash_sets is not None:
            # the caller's persisted hash-set projection: an inner id-join
            # keeps exactly the ≥1-shingle docs (shingle_hash_sets filters
            # them), same as the size filter below
            base = (
                df.select(F.col(id_col), F.col(block_col).alias("block"))
                .join(
                    hash_sets.select(
                        F.col(id_col), F.sort_array("hs").alias("sh")
                    ),
                    id_col,
                )
            )
        else:
            sh = shingles(words(F.col(text_col)), k)
            base = (
                df.select(
                    F.col(id_col),
                    F.col(block_col).alias("block"),
                    F.sort_array(
                        F.transform(sh, lambda s: F.xxhash64(s))
                    ).alias("sh"),
                )
                .filter(F.size("sh") > 0)
            )
        base = st.pin(base)
        n = F.size("sh")
        prefix_len = (n - F.ceil(n * threshold) + 1).cast("int")
        prefixes = base.select(
            F.col(id_col), "block", F.explode(F.slice("sh", 1, prefix_len)).alias("s")
        )
        cands = _candidate_pairs(
            prefixes, prefixes, id_col, ["block", "s"], ("id_a", "id_b"), operator.lt
        )
        return st.own(_jaccard_verify(cands, base, base, id_col, threshold, "sh"))


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc: token hashes vote per bit; sign -> bit.

    Expressed as explode + single groupBy (one shuffle on doc id); the 64
    bit-votes are conditional-sum aggregates fused in one Aggregate node.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(
                F.col("th").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, 1
            ).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(64):
        bit = F.when(
            F.col(f"v_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation is Manku-style block banding (Manku, Jain &
    Sarma, "Detecting near-duplicates for web crawling", WWW'07): the
    64-bit signature splits into ``b = max_hamming + 3`` blocks, and
    docs join on every C(b, 3) combination of THREE block values packed
    into one ≈32-48-bit key. Pigeonhole-exact: ≤ max_hamming flipped
    bits land in ≤ max_hamming blocks, leaving ≥ 3 clean blocks whose
    combination both docs index identically — so recall is 100% at the
    radius, same contract as an all-pairs scan.

    Why 3-block keys and not single 16-bit bands (the pre-round-7
    scheme): 16-bit buckets saturate at ~10⁵ docs — random (non-near)
    collisions grow ~4·N²/2¹⁶, which measured 345× wall at the 100×
    jittered corpus (SCALE.md). A ~2³³⁺ key space makes random
    collisions negligible at any N this engine targets (10⁹ docs × 20
    keys into 2³³ buckets ≈ 2 entries/bucket), so surviving candidates
    are overwhelmingly true near-dups: cost becomes output-bound, the
    PPJoin property the rest of the dedup family already has. The trade
    is C(h+3,3) index entries per doc (20 at h=3) vs 4 — fixed-width
    shuffle rows, linear in corpus.
    """
    # persist: the banded rows feed BOTH sides of the candidate self-join;
    # without it the 64-vote aggregate (and tokenization) runs twice.
    with Staging() as st:
        sigs = st.pin(simhash_signatures(df, text_col, id_col))
        keys = _simhash_combo_keys(F.col("simhash"), max_hamming)
        exploded = sigs.select(
            F.col(id_col), F.col("simhash"), F.posexplode(keys).alias("combo", "ckey")
        )
        a = exploded.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "combo", "ckey"
        )
        b = exploded.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "combo", "ckey"
        )
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return st.own(
            a.join(b, ["combo", "ckey"])
            .filter(F.col("id_a") < F.col("id_b"))
            # Hamming BEFORE the pair-dedup: bit_count is a per-row codegen'd
            # instruction, while dropDuplicates is a shuffled aggregate — its
            # state must be the true-pair set, not the candidate multiset
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "hamming")
        )


def _combinations3(n: int) -> list:
    """All (i, j, k) with i < j < k < n."""
    import itertools

    return list(itertools.combinations(range(n), 3))


def _simhash_combo_keys(sig, max_hamming: int):
    """array<long> of the Manku block-banding join keys for one signature.

    The single definition of the banding layout, shared by
    :func:`simhash_near_pairs` and testable on injected signatures
    (tests/test_dedup.py pins the pigeonhole completeness directly).
    """
    # max(4, ·) keeps block widths ≤ 16 bits (the packing lanes below)
    # even for max_hamming = 0; extra blocks only add recall headroom
    nblocks = max(4, max_hamming + 3)
    widths = [64 // nblocks + (1 if i < 64 % nblocks else 0) for i in range(nblocks)]
    offsets = [sum(widths[:i]) for i in range(nblocks)]
    blocks = [
        F.shiftrightunsigned(sig, offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1).cast("long")
        )
        for i in range(nblocks)
    ]
    # widths ≤ 16 for nblocks ≥ 4 (always, since max_hamming ≥ 1), so three
    # blocks pack losslessly into fixed 16-bit lanes of one long
    return F.array(
        *[
            blocks[i]
            .bitwiseOR(F.shiftleft(blocks[j], 16))
            .bitwiseOR(F.shiftleft(blocks[k], 32))
            for i, j, k in _combinations3(nblocks)
        ]
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    jump_after: int = 3,
) -> DataFrame:
    """Dedup cluster assignment: connected components over a near-dup pair
    list. Returns ``(id_col, cluster_id, cluster_size)`` where ``cluster_id``
    is the minimum reachable id (the canonical survivor every dedup policy
    keys on) and singletons map to themselves.

    Algorithm: iterative min-label propagation — each round every vertex
    takes the minimum label among itself and its neighbors — run until a
    fixpoint (no label changed). This is the MapReduce-native formulation
    (Kang et al., HCC in PEGASUS); rounds = graph diameter. Near-dup graphs
    are unions of small quasi-cliques (diameter ≤ ~3 in practice), so the
    loop converges in 2-4 rounds regardless of corpus size.

    **Drift-chain escalation (round 11):** a progressive-edit near-dup
    chain (v1~v2~…~vN) is a real corpus shape whose diameter can exceed
    any fixed round budget — plain propagation needs D rounds and the
    pre-r11 code RAISED past 25. Rounds after ``jump_after`` therefore
    add one POINTER JUMP per round (label ← min(label, label(label)),
    the Shiloach-Vishkin / star-contraction shortcut): information reach
    better-than-doubles per round (r ← 2r+1), so a diameter-D component
    converges in ~log₂D escalated rounds — max_iter=25 covers diameters
    beyond 10⁶ where the old bound was 25. Quasi-clique dedup graphs
    still converge inside the plain rounds at zero extra cost. Labels
    stay min-REACHABLE ids throughout: a label is always the id of a
    vertex reachable from its holder (propagation moves labels along
    edges; the jump composes two reachable hops), and at the fixpoint
    the standard HCC argument gives label = component minimum — so
    survivor policies keyed on min-id are unchanged.

    100 TB shape: the iterative state is |V(edges)| — only vertices that
    appear in a pair enter the loop; the (overwhelmingly larger) singleton
    population is attached afterwards with a single anti-join, so a corpus
    with 1% duplicates iterates over 1% of the ids. Per round, one
    hash-partitioned join of the label table (two longs per vertex)
    against the symmetrized edge list plus one map-side-combining
    min-aggregate — labels and edges shuffle as bare longs, text never
    enters the loop (the jump adds one more label-table-sized long-key
    join, only in escalated rounds). ``localCheckpoint`` truncates the
    lineage each round so plan depth stays O(1) instead of O(rounds),
    and the convergence test rides the same pass (an iterative algorithm
    needs a per-round action by construction; this is the documented
    exception to the lazy-plan rule). Edges are pinned once up front —
    they feed every round — and released before return.

    **Seed convergence check (r15):** quasi-clique components converge
    in the seed itself, yet the loop paid a full round — build successor
    labels, checkpoint-materialize them, then a second count job — just
    to learn changed == 0. The fixpoint condition ("no vertex sees a
    neighbor label below its own") is counted directly from the seed in
    one aggregation-shaped action, so the common converged-at-seed case
    runs seed + check and never materializes a second label table; a
    non-converged corpus pays one extra aggregation pass (the same
    join+agg a round runs) before the rounds proceed unchanged.
    """
    with Staging() as st:
        sym = st.pin(
            pairs.select(F.col("id_a").alias("v"), F.col("id_b").alias("w"))
            .union(pairs.select(F.col("id_b").alias("v"), F.col("id_a").alias("w")))
        )
        # seed with the 1-hop minimum (same shuffle the vertex-distinct would
        # cost anyway) — cliques converge in the seed itself, so the loop only
        # pays rounds for diameter beyond 1
        labels = (
            sym.groupBy("v")
            .agg(F.min("w").alias("mw"))
            .select(F.col("v"), F.least("v", "mw").alias("label"))
            .localCheckpoint(eager=True)
        )

        def _nbr_min(lbl: DataFrame) -> DataFrame:
            return (
                sym.join(lbl.select(F.col("v").alias("w"), F.col("label")), "w")
                .groupBy("v")
                .agg(F.min("label").alias("nbr_label"))
            )

        # convergence CHECK before any propagation round (r15): near-dup
        # graphs are unions of quasi-cliques whose components converge in
        # the seed itself "regardless of corpus size" — yet the loop paid
        # a full round (build new labels + checkpoint-materialize them +
        # a second count job) just to learn changed == 0. The fixpoint
        # condition is exactly "no vertex sees a neighbor label below its
        # own", countable from the seed WITHOUT building or materializing
        # a successor table: one aggregation-shaped action instead of a
        # checkpoint + count pair. Converged-at-seed corpora (the common
        # case at any scale) save a labels-table materialization per CC
        # call; a non-converged corpus pays one extra aggregation pass
        # before the rounds (bounded — the same join+agg a round runs).
        converged = (
            _nbr_min(labels)
            .join(labels, "v")
            .filter(F.col("nbr_label") < F.col("label"))
            .count()
        ) == 0
        for i in range(max_iter):
            if converged:
                break
            nbr_min = _nbr_min(labels)
            proposed = labels.join(nbr_min, "v", "left").select(
                "v",
                F.col("label").alias("old_label"),
                F.least("label", "nbr_label").alias("label"),
            )
            if i >= jump_after:
                # pointer jump against the PREVIOUS round's checkpointed
                # table (no self-join ambiguity, no second checkpoint):
                # label(v) = u is reachable from v and label_prev(u) is
                # reachable from u, so the composition stays a reachable
                # id; least() keeps monotone non-increase. At the true
                # fixpoint the component minimum labels itself, so the
                # jump is a no-op and changed==0 still terminates.
                ptr = labels.select(
                    F.col("v").alias("_pv"), F.col("label").alias("_plabel")
                )
                proposed = proposed.join(
                    ptr, F.col("label") == F.col("_pv"), "left"
                ).select(
                    "v",
                    "old_label",
                    F.least(
                        F.col("label"), F.coalesce("_plabel", "label")
                    ).alias("label"),
                )
            proposed = proposed.localCheckpoint(eager=True)
            changed = proposed.filter(F.col("label") != F.col("old_label")).count()
            labels = proposed.select("v", "label")
            if changed == 0:
                converged = True
                break
        if not converged:  # pragma: no cover - 2^(max_iter - jump_after) exceeds any real diameter
            raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    w_cluster = W.partitionBy("label")
    clustered = labels.select(
        F.col("v").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(w_cluster).alias("cluster_size"),
    )
    singletons = nodes.join(
        labels.select(F.col("v").alias(id_col)), id_col, "left_anti"
    ).select(
        F.col(id_col),
        F.col(id_col).alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return clustered.unionByName(singletons)


def _resolve_band_geometry(
    emb: DataFrame,
    threshold: float,
    n_bands: int | None,
    band_bits: int | None,
    n_hint: int | None,
) -> tuple[int, int]:
    """Resolve the sign-LSH band geometry for
    :func:`embedding_near_dup_pairs`. Precedence: explicit parameters
    (each independently overridable against the 24/16 defaults) >
    auto-derivation from ``n_hint`` > auto-derivation from a one-action
    ``COUNT(*)``. Factored out so tests can pin the resolution table
    without running the LSH pipeline."""
    from cql_xmlpipe_spark.operators.similarity import auto_band_config

    if n_bands is not None or band_bits is not None:
        return (24 if n_bands is None else n_bands,
                16 if band_bits is None else band_bits)
    return auto_band_config(emb.count() if n_hint is None else n_hint, threshold)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup via BANDED sign-LSH.

    A single exact-match bucket over p planes has recall (1-θ/π)^p — far
    too low at any p wide enough to avoid collisions. Banding fixes it: a
    pair is a candidate if ANY of ``n_bands`` independent ``band_bits``-
    plane sign patterns matches exactly; at the 24×16 defaults recall is
    ≈0.992 at cosine 0.95 and ≈1-2e-7 at 0.99. Candidate generation joins
    bare (id, band, bkey) ints; embeddings are fetched by id only for
    the verify step (same shuffle discipline as minhash_lsh_pairs).

    Why 16-bit band keys, not 4-bit ones: key space bounds the
    junk-candidate volume at n_bands·C(N,2)/2^bits — 4-bit keys (16
    buckets/band) make candidate generation N²/8 on ANY corpus, a
    quadratic wall at ~10⁵ vectors; 16-bit keys push the floor to 10⁶⁺
    (see
    :func:`~cql_xmlpipe_spark.operators.similarity.banded_sign_keys`,
    which also explains why 384 planes need the Arrow path, not inline
    Column folds). Exact verification is unchanged, so false positives
    remain impossible at every setting.

    The geometry auto-derives from corpus size: with no explicit
    ``n_bands``/``band_bits``, ``n_hint`` (an order-of-magnitude corpus
    size — a catalog estimate or prior count) feeds
    :func:`~cql_xmlpipe_spark.operators.similarity.auto_band_config`,
    and with no hint either the operator spends one ``COUNT(*)`` action
    to derive it — trivially amortized against the LSH job it sizes.
    band_bits grows ~2·log₂N so junk candidates stay ≤ 32·N (the flat
    verify floor), with n_bands re-solved to hold recall ≥ 0.99 at the
    cosine threshold; verification stays exact, so every emitted pair
    is a TRUE pair at every geometry (false positives impossible), and
    recall is re-solved per width — pair sets can differ by the <1%
    miss budget between widths (measured 9,894,817 vs 9,895,168 of
    9,899,941 true pairs at the jitter-100× decade; the pytest pins
    exact output equality at scales where recall saturates). Explicit
    ``n_bands``/``band_bits`` always win; an ``n_hint`` costs no action.

    Zero-norm vectors never pair, and never even enter the LSH index:
    an unguarded path would be actively dangerous — zero vectors all
    share every sign bucket (0 ≥ 0 on every plane), so a hot zero
    family is a quadratic candidate job whose cosine is 0/0, which
    RAISES under the engine's ANSI session (DIVIDE_BY_ZERO hours into a
    real corpus) and yields NaN with ANSI off — a value both Spark and
    DuckDB order ABOVE every number (``NaN >= 0.95`` is true in both,
    measured), i.e. garbage "pairs". Eligibility (non-null, norm > 0)
    is a per-row codegen'd fold pushed down BEFORE the index, so a
    directionless family costs nothing instead of C(g,2) NULL
    verifications; the verify step additionally scores with
    :func:`~cql_xmlpipe_spark.functions.vectors.cosine_safe` (NULL on
    a zero denominator, the plain cosine otherwise) as
    defense in depth.

    ``max_pairs`` is the same pre-flight output guard-rail as
    :func:`minhash_lsh_pairs_collapsed` (opt-in here;
    :func:`default_max_pairs` applies it at the CLI layer), in TWO
    stages:

    * **identical-family arithmetic** — the skew-100× corpus plants a
      hot EMBEDDING family (one vector shared by 10% of the corpus),
      and identical vectors emit C(g,2) cosine-1.0 pairs by contract.
      Families are priced by a 128-bit key (two seeded ``xxhash64``
      over the raw float array — one count-style action, no vector
      ever shuffled), restricted to ELIGIBLE vectors (non-null, norm
      > 0 — zero-norm families never pair, see above, so pricing them
      would overcount the lower bound).
    * **band-bucket candidate volume** — a hot family with per-vector
      jitter (every copy perturbed in the last float bit) defeats the
      hash pricing yet still lands in one bucket per band, implying
      ~C(g,2) candidate verifications AND (when the jitter keeps cosine
      above threshold) the same output volume. After the sign keys are
      computed, Σ C(bucket, 2) within a single band is a LOWER bound on
      distinct candidate pairs (the candidate union contains every
      band's collision set); the max over bands is checked against the
      cap in one aggregation over the persisted key table before the
      self-join launches.

    Past either cap this raises :class:`PairOutputBudgetExceeded`
    pointing at :func:`embedding_near_dup_groups` — the roster contract
    whose OUTPUT is one row per family. (For a jittered hot family the
    roster still pays the candidate-verify bill — its reps are all
    distinct — but the 10⁹-row output materialization is gone; the
    refusal message says which stage fired so the operator knows
    whether the roster alone fixes the job.)
    """
    from cql_xmlpipe_spark.operators.similarity import banded_sign_keys

    eligible = emb.filter(eligible_vector(emb_col))
    if max_pairs is not None:
        stats = _guard_clone_stats(eligible, vector_family_key(emb_col))
        _enforce_pair_budget(
            max_pairs,
            stats["bound"],
            f"embedding_near_dup_pairs: identical-vector families alone "
            f"imply >= {stats['bound'] or 0:,} output pair rows (largest "
            f"family {stats['g_max'] or 0:,} vectors => C({stats['g_max'] or 0:,}, 2) "
            f"rows), over max_pairs={max_pairs:,}. The pair contract is "
            "irreducibly quadratic in clone-family size; use "
            "embedding_near_dup_groups (one roster row per family, linear "
            "output) or raise max_pairs.",
        )
    n_bands, band_bits = _resolve_band_geometry(
        eligible, threshold, n_bands, band_bits, n_hint
    )

    with Staging() as st:
        keys = st.pin(banded_sign_keys(eligible, emb_col, id_col, n_bands, band_bits))
        if max_pairs is not None:
            bstats = _guard_band_stats(keys, "band", ["bkey"])
            _enforce_pair_budget(
                max_pairs,
                bstats["bound"],
                f"embedding_near_dup_pairs: one LSH band alone implies >= "
                f"{bstats['bound'] or 0:,} distinct candidate pairs to verify "
                f"(hottest bucket {bstats['n_max'] or 0:,} vectors), over "
                f"max_pairs={max_pairs:,} — a near-identical (jittered) hot "
                "family the identical-vector pricing cannot see. "
                "embedding_near_dup_groups bounds the OUTPUT to one roster "
                "row per family (the candidate-verify cost remains — its "
                "reps are distinct vectors); raise max_pairs only if that "
                "verify bill is budgeted.",
            )
        cands = _candidate_pairs(
            keys, keys, id_col, ["band", "bkey"], ("id_a", "id_b"), operator.lt
        )
        return st.own(
            _cosine_verify(cands, eligible, eligible, id_col, emb_col, threshold)
        )


def embedding_near_dup_groups(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """Embedding near-dup CLUSTER ROSTERS — (cluster_id, cluster_size,
    sorted members) per multi-vector family — the LINEAR-output contract
    for the embedding family, twin of :func:`minhash_groups_collapsed`.

    Stages, mirroring the text roster:

    * **identical-vector collapse** — membership map over the 128-bit
      :func:`~cql_xmlpipe_spark.functions.vectors.vector_family_key`
      (one 64-bit key risks merging two families at 10⁹ vectors, the
      scale this contract exists for). No vector crosses a shuffle —
      only (id, two longs). NULL embeddings never enter (a null vector
      never pairs); zero-norm families are collapsed but marked INELIGIBLE —
      cosine(0, ·) is NaN, which :func:`embedding_near_dup_pairs` pins
      as never-qualifying, so a family of identical zero vectors has no
      pairs and must not surface as a roster.
    * **banded sign-LSH + exact verify over representatives only** —
      the same :func:`embedding_near_dup_pairs` path (auto geometry
      sizes itself to the REP count — on a clone-heavy corpus that is
      the honest N), at O(distinct vectors) instead of O(corpus).
      Identical vectors share every sign key and an exactly-equal
      cosine, so rep pairs expand through the membership unchanged —
      the same output-preservation argument as the text collapse.
    * **connected components over rep pairs** — CC state is |distinct
      vectors|, edges are rep pairs; members inherit their rep's label
      through one key-only join and aggregate DIRECTLY into rosters
      (no corpus-sized sort or singleton union, as in the text roster
      plan), one row per family with a sorted member array.

    Skew shape (the reason this exists): the skew-100× hot family —
    one vector shared by 10% of a 500k corpus — is ONE collapse family,
    one rep in the LSH, one roster row with a 50k-member array, where
    the pair contract refuses at pre-flight pricing 1.25B rows
    (SCALE.md). Singleton vectors are omitted: "no duplicates" is the
    complement, not a row per vector at 100 TB.
    """
    with Staging() as st:
        vh = st.pin(
            emb.filter(F.col(emb_col).isNotNull())
            .select(
                F.col(id_col),
                *vector_family_key(emb_col),
                (norm(F.col(emb_col)) > 0).alias("_elig"),
            )
        )
        reps = vh.groupBy("_h1", "_h2").agg(F.min(id_col).alias("rep"))
        mem = st.pin(
            vh.join(reps, ["_h1", "_h2"]).select(F.col(id_col), "rep", "_elig")
        )
        rep_ids = mem.select(F.col("rep").alias(id_col)).distinct()
        rep_vecs = emb.join(rep_ids, id_col, "left_semi")
        rep_pairs = st.adopt(embedding_near_dup_pairs(
            rep_vecs, id_col, emb_col, threshold, n_bands, band_bits, n_hint
        ))
        cc = connected_components(rep_ids, rep_pairs, id_col=id_col)
        labeled = (
            mem.filter(F.col("_elig"))
            .join(cc.select(F.col(id_col).alias("rep"), "cluster_id"), "rep")
            .select(F.col(id_col), "cluster_id")
        )
        groups = (
            labeled.groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cluster_size"),
                F.sort_array(F.collect_list(F.col(id_col))).alias("members"),
            )
            .filter(F.col("cluster_size") >= 2)
        )
        return st.own(groups)


def stratum_hex_hi(sample_frac: float) -> str:
    """Upper (inclusive) 4-hex-digit md5-prefix bound that realizes
    ``sample_frac`` in :func:`stratum_filter` — THE single definition of
    the frac→hex rule, exported so oracle SQL derives its literal from
    the same arithmetic the Column uses (editing one side can no longer
    silently desynchronize the two)."""
    return format(max(1, min(65536, int(round(sample_frac * 65536)))) - 1, "04x")


def stratum_filter(id_col: Column | str, sample_frac: float) -> Column:
    """Deterministic, engine-portable document stratum: keep ids whose
    md5 hex prefix falls below the fraction. The rule is a pure string
    compare on the first four hex digits (md5 is uniform, so the stratum
    holds ≈ ``sample_frac`` of ids at 1/65536 granularity), identical in
    Spark and DuckDB — the same portability trick as
    ``dataset_split_leakage``'s split rule. Membership depends only on
    the id, never on content, so any PAIR property measured on the
    stratum is an unbiased sample of the population's pairs (a pair
    survives with probability frac², independent of its Jaccard)."""
    hi = stratum_hex_hi(sample_frac)
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(col.cast("string")), 1, 4) <= hi


def minhash_recall_sampled(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    sample_frac: float = 0.01,
) -> DataFrame:
    """SAMPLED LSH-recall estimate — the production health check the
    exact gate (``dedup_minhash_recall``) is too expensive to be: the
    exact side of the full gate costs an all-pairs PPJoin over the
    corpus (4,485 s of the 4,969 s bill at the jitter-100× decade,
    SCALE.md), which no one runs per-ingest. This estimates the same
    recall from a deterministic ~``sample_frac`` md5 stratum of DOCS:

    * both sides run on the stratum ONLY, so the exact bill scales by
      frac² (~10⁻⁴ at the 1% default) — the restriction is EXACT, not
      approximate, because both contracts are pairwise: a pair's LSH
      banding fate and its true Jaccard depend only on the two texts,
      so LSH-over-stratum ≡ full-corpus LSH restricted to pairs with
      both endpoints in the stratum (same for the exact PPJoin);
    * the estimator is unbiased: stratum membership hashes the id,
      never content, so stratum-internal pairs are a uniform sample of
      population pairs, and found/exact over them estimates population
      recall;
    * the output row carries a Wilson 95% interval (``ci95_lo``/
      ``ci95_hi``) on the estimate — Wilson, not Wald, because recall
      sits near 1.0 where the Wald interval degenerates to zero width
      at any sample size. n_exact = 0 yields NULL estimate and bounds
      ("trivially no pairs in the stratum"), the same pinned-NULL
      discipline as the exact gate.

    Returns one row: (n_exact, n_lsh, n_found, recall_est, ci95_lo,
    ci95_hi), counts over stratum-internal pairs.
    """
    stratum = df.filter(stratum_filter(id_col, sample_frac))
    # tokenize the stratum ONCE: both sides' pipelines consume the same
    # per-text-deterministic shingle-hash projection — the LSH collapse
    # derives its representative slices from it (sets-only staging;
    # signatures still run over reps only) and the PPJoin builds its
    # sorted base from it, instead of each re-tokenizing the stratum
    with Staging() as st:
        s_sets = st.pin(shingle_hash_sets(stratum, text_col, id_col, k))
        # ... and collapse it ONCE: the PPJoin side's block key is the
        # constant _blk, so its (block, text) groups ARE the text groups and
        # one membership map serves both sides
        s_mem = st.pin(_membership_map(stratum, text_col, id_col))
        lsh_full = st.adopt(minhash_lsh_pairs_collapsed(
            stratum, text_col, id_col, threshold, k, staged=(s_sets, None),
            mem=s_mem,
        ))
        exact_full = st.adopt(ngram_jaccard_pairs_collapsed(
            stratum.withColumn("_blk", F.lit(1)),
            text_col, id_col, block_col="_blk", threshold=threshold, k=k,
            hash_sets=s_sets, mem=s_mem,
        ))
        lsh = lsh_full.select("id_a", "id_b")
        exact = exact_full.select("id_a", "id_b")
        return st.own(_recall_wilson_row(st, lsh, exact))


def _recall_wilson_row(st: Staging, lsh: DataFrame, exact: DataFrame) -> DataFrame:
    """Assemble the one-row sampled-recall frame — (n_exact, n_lsh,
    n_found, recall_est, ci95_lo, ci95_hi) — from the two (id_a, id_b)
    pair sets. Shared by the text and embedding sampled-recall health
    checks so the Wilson 95% terms have ONE definition, written in the
    exact literal/op order the DuckDB oracles mirror (bit-matching
    doubles cross-engine). Wilson, not Wald: recall sits near 1.0 where
    the Wald interval degenerates to zero width at any sample size.
    n_exact = 0 yields NULL estimate and bounds ("trivially no pairs in
    the stratum").

    Both pair frames are pinned here (r15): each is referenced twice in
    the one-row plan (its own count AND the intersection count), and
    un-pinned the candidate+verify subtree behind each executed twice
    per action — the cache is two id columns per pair, the recompute is
    the pair pipeline. The pins go into the caller's staging ``st``."""
    lsh = st.pin(lsh)
    exact = st.pin(exact)
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_found = lsh.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    z2 = F.lit(1.96) * F.lit(1.96)
    n = F.col("n_exact").cast("double")
    r = F.col("n_found").cast("double") / n
    denom = F.lit(1.0) + z2 / n
    center = (r + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(r * (F.lit(1.0) - r) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_found))
        .withColumn(
            "recall_est", F.when(F.col("n_exact") > 0, r)
        )
        .withColumn(
            "ci95_lo", F.when(F.col("n_exact") > 0, center - half)
        )
        .withColumn(
            "ci95_hi", F.when(F.col("n_exact") > 0, center + half)
        )
    )


def embedding_recall_sampled(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    sample_frac: float = 0.01,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """SAMPLED sign-LSH recall estimate for the EMBEDDING family — the
    twin of :func:`minhash_recall_sampled`: a registered health check a
    production pipeline can run per-ingest. The exact side is an
    all-pairs cosine join — O(N²·dim), the bill no one pays
    corpus-wide — restricted to a deterministic ~``sample_frac`` md5
    stratum of VECTOR IDS, so it scales by frac² (~10⁻⁴ at the 1%
    default):

    * the restriction is EXACT, not approximate: a pair's banding fate
      (deterministic sign keys per vector) and its true cosine depend
      only on the two vectors, so LSH-over-stratum ≡ full-corpus LSH
      restricted to stratum-internal pairs, same for the exact join;
    * the estimator is unbiased: stratum membership hashes the id,
      never content, so stratum-internal pairs are a uniform sample of
      population pairs (each survives with probability frac²,
      independent of its cosine);
    * geometry auto-resolves against the STRATUM size by default —
      deliberately: the health check measures the geometry a corpus of
      that size would get; pass ``n_hint`` (or explicit bands/bits) to
      pin the production geometry under test, which is what the decade
      measurements do.

    Eligibility (non-null, norm > 0) is pushed down BEFORE both sides,
    matching :func:`embedding_near_dup_pairs` — zero-norm vectors never
    pair under either contract. Returns one row: (n_exact, n_lsh,
    n_found, recall_est, ci95_lo, ci95_hi) with the shared Wilson 95%
    interval (see :func:`_recall_wilson_row`).
    """
    from cql_xmlpipe_spark.functions.vectors import dot

    # norms are computed ONCE per vector here and carried as a column:
    # the all-pairs side would otherwise fold two 64-element norms per
    # PAIR (3× the fold work — measured 45 s vs 14 s at the sf0.1 gate).
    # Bit-identical to per-pair recomputation: same fold over the same
    # array yields the same double, so dot/(na*nb) classifies every
    # boundary pair exactly as the oracle's per-pair formula does; the
    # eligibility filter (norm > 0) already guarantees a nonzero
    # denominator, so no cosine_safe guard is needed.
    with Staging() as st:
        eligible = st.pin(
            emb.filter(stratum_filter(id_col, sample_frac))
            .filter(eligible_vector(emb_col))
            .select(F.col(id_col), F.col(emb_col), norm(F.col(emb_col)).alias("_nrm"))
        )
        lsh_full = st.adopt(embedding_near_dup_pairs(
            eligible.select(F.col(id_col), F.col(emb_col)),
            id_col, emb_col, threshold, n_bands, band_bits, n_hint,
        ))
        lsh = lsh_full.select("id_a", "id_b")
        a = eligible.select(
            F.col(id_col).alias("id_a"), F.col(emb_col).alias("e_a"),
            F.col("_nrm").alias("_na"),
        )
        b = eligible.select(
            F.col(id_col).alias("id_b"), F.col(emb_col).alias("e_b"),
            F.col("_nrm").alias("_nb"),
        )
        exact = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos",
                dot(F.col("e_a"), F.col("e_b")) / (F.col("_na") * F.col("_nb")),
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b")
        )
        return st.own(_recall_wilson_row(st, lsh, exact))


def _lsh_prep(
    st: Staging, df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH staging for one side of a probe join: shingle-hash
    sets plus banded (id, band, bucket) keys, both pinned in ``st`` — the same
    signature math as :func:`minhash_lsh_pairs`, factored so asymmetric
    (probe × index) joins can stage each side independently. Signature
    and banding math are :func:`_minhash_sigs` + :func:`_band_keys` —
    shared with :func:`minhash_lsh_pairs`, one definition for both."""
    sets = st.pin(shingle_hash_sets(df, text_col, id_col, k))
    buckets = st.pin(
        _minhash_sigs(sets, id_col)
        .select(F.col(id_col), F.posexplode(_band_keys()).alias("band", "bucket"))
    )
    return sets, buckets


def _cross_budget_check(
    a_keys: DataFrame,
    b_keys: DataFrame,
    join_cols: list[str],
    max_pairs: int,
    op: str,
    stage: str,
    remedy: str,
) -> None:
    """Shared cross-set pre-flight for the incremental probe guards:
    count key multiplicities on each side, join on the key, and price
    Σ a·b — the number of (batch, corpus) combinations sharing that key.
    For identical-content keys that is EXACTLY the pair output those
    families emit (every cross combination is a true pair); for
    (band, bucket) keys the per-band maximum lower-bounds distinct
    cross candidates (the candidate union contains every band's
    collision set). One aggregation-shaped action either way; raises
    :class:`PairOutputBudgetExceeded` past ``max_pairs``."""
    banded = join_cols[0] in ("band",)
    a = a_keys.groupBy(*join_cols).agg(F.count(F.lit(1)).alias("_na"))
    b = b_keys.groupBy(*join_cols).agg(F.count(F.lit(1)).alias("_nb"))
    joined = a.join(b, join_cols).select(
        *(join_cols[:1] if banded else []),
        (F.col("_na") * F.col("_nb")).alias("_ab"),
    )
    if banded:  # per-band sums; the max band is the candidate lower bound
        stats = (
            joined.groupBy(join_cols[0])
            .agg(F.sum("_ab").alias("cand"))
            .agg(F.max("cand").alias("bound"))
            .collect()[0]
        )
    else:  # one composite content key: Σ a·b IS the family pair output
        stats = joined.agg(F.sum("_ab").alias("bound")).collect()[0]
    _enforce_pair_budget(
        max_pairs,
        stats["bound"],
        f"{op}: {stage} implies >= {stats['bound'] or 0:,} cross-set "
        f"{'candidate pairs to verify' if banded else 'pair rows'}, "
        f"over max_pairs={max_pairs:,}. {remedy}",
    )


def stage_corpus_lsh(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Persist the CORPUS side of the incremental probe ONCE — the
    (shingle-hash sets, banded buckets) pair every ingest reuses. Hand
    the result to :func:`incremental_probe_pairs` as ``corpus_staged``
    so a stream of ingest batches (e.g. the ``foreachBatch`` composition
    in streaming/dedup.py) signs only each batch, never the corpus
    again — the in-session analogue of the precomputed bucketed corpus
    index the operator docstring describes at warehouse scale. The two
    frames come back pinned and owned by the caller, who takes them into
    a :class:`Staging` (``st.pin``) to release them when the ingest
    session ends."""
    return _lsh_prep(Staging(), corpus, text_col, id_col, k)


def incremental_probe_pairs(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_pairs: int | None = None,
    corpus_staged: tuple[DataFrame, DataFrame] | None = None,
    increment_staged: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs between a NEW batch and
    an EXISTING corpus, without ever forming corpus×corpus (or
    batch×batch) candidates — the shape a production crawl pipeline
    runs on every ingest, where the corpus side is orders of magnitude
    larger and its self-pairs were already resolved.

    Precondition: ``increment`` and ``corpus`` are DISJOINT id sets (the
    increment has not yet been appended to the corpus — the normal
    ingest ordering). Identity pairs (inc_id == corpus_id) are filtered
    defensively below, but a genuinely overlapping document (same text
    under two ids present on both sides) will legitimately pair with
    itself's twin — callers who re-probe an already-merged batch must
    anti-join the increment out of the corpus first.

    Both sides stage independently through the same banded-LSH signature
    math as :func:`minhash_lsh_pairs`; the candidate join is
    increment-buckets × corpus-buckets on (band, bucket) — probe-side
    skew is AQE-split, and at warehouse scale the corpus side's buckets
    are a precomputed, bucketed-by-(band,bucket) table so only the small
    increment is signed per ingest — in-session, pass
    :func:`stage_corpus_lsh`'s result as ``corpus_staged`` for the same
    effect (the streaming ``foreachBatch`` composition does; ownership
    of those caches stays with the caller). Verification is the same
    id-join + exactness-preserving length filter + true-Jaccard check.

    Returns (inc_id, corpus_id, jaccard) with jaccard >= threshold.

    ``max_pairs`` is the cross-set form of the two-stage guard: a hot
    text present a× in the batch and b× in the corpus emits EXACTLY a·b
    pair rows by contract — stage-1 prices Σ a·b over shared sha256
    keys (eligible ids only); a jittered hot family defeats that, so
    stage-2 lower-bounds distinct cross candidates by the per-band Σ a·b
    over shared (band, bucket) keys of the already-staged indexes. Both
    are one aggregation-shaped action; refusal names the standard ingest
    staging (exact-dedup the batch against the corpus first — one linear
    hash join — so only novel texts probe).
    """
    with Staging() as st:
        if increment_staged is not None:
            # caller-owned increment staging (stage_corpus_lsh over the
            # batch): shared with the batch-internal LSH so one ingest signs
            # the batch once, not twice
            i_sets, i_buckets = increment_staged
        else:
            i_sets, i_buckets = _lsh_prep(st, increment, text_col, id_col, k)
        if corpus_staged is not None:
            # caller-owned corpus staging (stage_corpus_lsh): reused across
            # ingests, so refusal/cleanup must never unpersist it here
            c_sets, c_buckets = corpus_staged
        else:
            c_sets, c_buckets = _lsh_prep(st, corpus, text_col, id_col, k)
        if max_pairs is not None:
            remedy = (
                "Identical-text cross pairs are irreducible output; run the "
                "standard ingest staging instead — exact-dedup the batch "
                "against the corpus by content hash first (one linear "
                "equi-join), probe only novel texts — or raise max_pairs."
            )
            th_i = increment.join(
                i_sets.select(id_col), id_col, "left_semi"
            ).select(F.sha2(F.col(text_col), 256).alias("_th"))
            th_c = corpus.join(
                c_sets.select(id_col), id_col, "left_semi"
            ).select(F.sha2(F.col(text_col), 256).alias("_th"))
            _cross_budget_check(
                th_i, th_c, ["_th"], max_pairs, "incremental_probe_pairs",
                "identical texts shared by batch and corpus alone", remedy,
            )
            _cross_budget_check(
                i_buckets.select("band", "bucket"),
                c_buckets.select("band", "bucket"),
                ["band", "bucket"], max_pairs, "incremental_probe_pairs",
                "one LSH band alone (a near-identical hot family the "
                "identical-text pricing cannot see)", remedy,
            )
        # operator.ne is defensive: never emit (x, x) even if a caller
        # violates the disjointness precondition documented above
        cands = _candidate_pairs(
            i_buckets, c_buckets, id_col, ["band", "bucket"],
            ("inc_id", "corpus_id"), operator.ne,
        )
        return st.own(_jaccard_verify(cands, i_sets, c_sets, id_col, threshold))


def stage_corpus_sign_keys(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_bands: int = 24,
    band_bits: int = 16,
) -> DataFrame:
    """Persist the CORPUS side of the EMBEDDING incremental probe ONCE —
    the (id, band, bkey) sign-LSH index every ingest reuses, the twin of
    :func:`stage_corpus_lsh` (un-staged, each embedding probe re-signs
    the corpus per call, which a ``foreachBatch`` stream pays per
    trigger). Geometry is EXPLICIT here by design: the staged keys
    are only meaningful to a probe run at the same (n_bands, band_bits)
    — resolve it once with :func:`_resolve_band_geometry` (or
    ``auto_band_config``) and thread the same pair everywhere, exactly
    as :func:`embedding_roster_update` documents. Eligibility (non-null,
    norm > 0) is pushed down before signing, matching every embedding
    operator. The frame comes back pinned and owned by the caller, as
    with :func:`stage_corpus_lsh`."""
    from cql_xmlpipe_spark.operators.similarity import banded_sign_keys

    eligible = corpus.filter(eligible_vector(emb_col))
    return Staging().pin(banded_sign_keys(eligible, emb_col, id_col, n_bands, band_bits))


def embedding_incremental_probe_pairs(
    corpus: DataFrame,
    increment: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    max_pairs: int | None = None,
    corpus_staged: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest dedup for the EMBEDDING family: cosine near-dup
    pairs between a NEW batch of vectors and an EXISTING corpus, without
    ever forming corpus×corpus (or batch×batch) candidates — the twin of
    :func:`incremental_probe_pairs` (per-ingest crawl pipelines carry
    embeddings alongside text, and the corpus side's self-pairs were
    resolved in prior ingests).

    Both sides index through :func:`~cql_xmlpipe_spark.operators.
    similarity.banded_sign_keys` with ONE shared geometry — the planes
    are derived deterministically from (plane, dim), so identical
    (n_bands, band_bits) on both sides means identical hyperplanes and
    a meaningful cross-side collision space; geometry resolves once
    from the CORPUS side (the big side owns the junk floor: cross-side
    junk ≈ n_bands·|C|·|I|/2^band_bits). The candidate join is
    increment-keys × corpus-keys on (band, bkey) — bare ints, vectors
    fetched by id only for exact verification with the same zero-norm
    eligibility push-down and ``cosine_safe`` pin as
    :func:`embedding_near_dup_pairs`. At warehouse scale the corpus
    keys are a precomputed table bucketed by (band, bkey), so each
    ingest signs only the increment.

    Precondition mirrors the text twin: disjoint id sets (identity
    pairs are filtered defensively). Returns (inc_id, corpus_id, cos)
    with cos >= threshold. ``max_pairs`` is the cross-set two-stage
    guard, exactly as on :func:`incremental_probe_pairs`: stage-1
    prices Σ a·b over shared 128-bit vector-hash keys (identical
    vectors across the split emit exactly a·b pairs), stage-2
    lower-bounds cross candidates by the per-band Σ a·b over shared
    (band, bkey) keys.

    ``corpus_staged`` is the in-session form of that
    precomputed corpus index — :func:`stage_corpus_sign_keys`'s
    persisted keys frame, reused across ingests so only the batch is
    signed per call (the embedding streaming sinks ride this).
    Because pair candidacy depends on the geometry the keys were built
    at, passing it REQUIRES explicit ``n_bands``/``band_bits`` (the
    caller resolved geometry once when staging); ownership of the
    cache stays with the caller — refusal/cleanup paths here never
    unpersist it.
    """
    from cql_xmlpipe_spark.operators.similarity import banded_sign_keys

    if corpus_staged is not None and (n_bands is None or band_bits is None):
        raise ValueError(
            "corpus_staged requires explicit n_bands and band_bits — the "
            "staged keys are only meaningful at the geometry they were "
            "built with (resolve once, thread the same pair everywhere)"
        )
    with Staging() as st:
        ec = corpus.filter(eligible_vector(emb_col))
        ei = increment.filter(eligible_vector(emb_col))
        if max_pairs is not None:
            key = vector_family_key(emb_col)
            _cross_budget_check(
                ei.select(*key), ec.select(*key), ["_h1", "_h2"], max_pairs,
                "embedding_incremental_probe_pairs",
                "identical vectors shared by batch and corpus alone",
                "Exact-dedup the batch against the corpus by vector hash "
                "first (one linear equi-join), probe only novel vectors, "
                "or raise max_pairs.",
            )
        n_bands, band_bits = _resolve_band_geometry(
            ec, threshold, n_bands, band_bits, n_hint
        )
        if corpus_staged is not None:
            # caller-owned corpus index (stage_corpus_sign_keys): reused
            # across ingests, so refusal/cleanup must never unpersist it
            ck = corpus_staged
            ik = st.pin(banded_sign_keys(ei, emb_col, id_col, n_bands, band_bits))
        else:
            ck = st.pin(banded_sign_keys(ec, emb_col, id_col, n_bands, band_bits))
            ik = st.pin(banded_sign_keys(ei, emb_col, id_col, n_bands, band_bits))
        if max_pairs is not None:
            _cross_budget_check(
                ik.select("band", "bkey"), ck.select("band", "bkey"),
                ["band", "bkey"], max_pairs,
                "embedding_incremental_probe_pairs",
                "one LSH band alone (a near-identical hot family the "
                "identical-vector pricing cannot see)",
                "embedding_near_dup_groups over the union bounds OUTPUT per "
                "family; the cross verify bill itself remains — raise "
                "max_pairs only if it is budgeted.",
            )
        cands = _candidate_pairs(
            ik, ck, id_col, ["band", "bkey"], ("inc_id", "corpus_id"), operator.ne
        )
        return st.own(_cosine_verify(cands, ei, ec, id_col, emb_col, threshold))


def incremental_roster_update(
    corpus: DataFrame,
    increment: DataFrame,
    rosters: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    emit: str = "full",
    max_pairs: int | None = None,
    corpus_staged: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental ROSTER maintenance — update standing near-dup cluster
    rosters with a new ingest batch WITHOUT re-running connected
    components over the full corpus (round 11; until now the per-ingest
    story ended at pair lists and production had to re-roster from
    scratch). Returns ``(cluster_id, cluster_size, members)`` over
    ``corpus ∪ increment``:

    * ``emit="full"`` — the complete updated roster set, provably equal
      to ``minhash_groups_collapsed(corpus ∪ increment)`` (the oracle
      gate pins this);
    * ``emit="delta"`` — only NEW or CHANGED rosters plus a
      ``(cluster_id, 0, [])`` TOMBSTONE for every retired standing
      label (a family absorbed into a merged component under a smaller
      min id — without the tombstone a pure upsert would leave its
      stale roster standing). Consumers apply the delta as: delete
      every delta ``cluster_id``, insert the ``cluster_size >= 2``
      rows; untouched families never cross the wire.

    Preconditions: ``rosters`` is the standing output of
    :func:`minhash_groups_collapsed` over ``corpus`` at the SAME
    ``threshold``/``k`` (its cluster_id is therefore the min member id),
    and ``increment``/``corpus`` are disjoint id sets (same contract as
    :func:`incremental_probe_pairs`).

    Why the composition is EXACT, not approximate: a pair's fate —
    banding collision (deterministic per-text signatures,
    :func:`_minhash_sigs` + :func:`_band_keys`) and true Jaccard —
    depends only on the two texts, never on corpus composition. So the
    union graph's edge set is exactly {standing corpus-internal pairs}
    ∪ {batch×corpus pairs} ∪ {batch-internal pairs}, the first set is
    already resolved into components (the standing rosters), and the
    union components are the QUOTIENT graph's components: contract each
    standing component to its label vertex, add the new edges with
    corpus endpoints mapped through membership, run CC over only the
    touched vertices. Labels stay global min ids: a standing label IS
    its family's min member id and batch/singleton vertices participate
    as themselves, so the quotient min-label equals the merged
    component's min doc id — survivor policies unchanged.

    100 TB shape: per-ingest cost is the probe (only the batch is signed
    once the corpus index is a standing table — pass
    :func:`stage_corpus_lsh`'s result as ``corpus_staged``, see
    :func:`incremental_probe_pairs`), the batch-internal LSH
    (O(batch)), and a CC loop whose state is |touched quotient
    vertices| — batch docs plus families actually hit by a new edge,
    NOT the corpus. The membership fan-out joins standing members
    against only the touched label set (AQE broadcasts the small side),
    and with ``emit="delta"`` the output is also touched-families-only;
    ``emit="full"`` adds a pass-through union of untouched rosters —
    linear output, no recompute. ``max_pairs`` forwards to both pair
    stages (the cross-set two-stage guard and the collapsed batch
    guard), so a hot ingest refuses by arithmetic before any quadratic
    candidate join launches.
    """
    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    # sign the batch ONCE: the probe's increment side and the
    # batch-internal LSH consume the same per-text-deterministic staging
    # (r14 — previously each pipeline tokenized and signed the increment
    # independently)
    with Staging() as st:
        i_staged = _lsh_prep(st, increment, text_col, id_col, k)
        cross = st.adopt(incremental_probe_pairs(
            corpus, increment, text_col, id_col, threshold, k,
            max_pairs=max_pairs, corpus_staged=corpus_staged,
            increment_staged=i_staged,
        ))
        batch = st.adopt(minhash_lsh_pairs_collapsed(
            increment, text_col, id_col, threshold, k,
            max_pairs=max_pairs, staged=i_staged,
        ))
        return st.own(_roster_update_assemble(st, cross, batch, rosters, id_col, emit))


def incremental_roster_refresh(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    emit: str = "full",
    max_pairs: int | None = None,
) -> DataFrame:
    """Standing rosters recomputed FROM RAW plus one ingest folded in —
    the full refresh composition the incremental gates run (the oracle
    pins the result against the from-scratch union fixpoint, so the
    gates must derive standing from the corpus every time; a production
    per-ingest caller with a standing table uses
    :func:`incremental_roster_update` directly).

    Exactly ``incremental_roster_update(corpus, increment,
    minhash_groups_collapsed(corpus), ...)``, run serially, with the
    corpus tokenized and signed ONCE: the standing build and the probe
    share one :func:`stage_corpus_lsh`-shaped staging. Serial on
    purpose: overlapping the standing build with the pair stages on two
    driver threads, each stage forced by an eager write, measured
    9.2 → 17 s for ``dedup_incremental_rosters`` at 32 cores.

    Returns the same (cluster_id, cluster_size, members) contract as
    :func:`incremental_roster_update` under both ``emit`` modes; every
    pinned intermediate rides the result.
    """
    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    with Staging() as st:
        c_staged = _lsh_prep(st, corpus, text_col, id_col, k)
        # pinned: the quotient assembly reads the standing rosters three
        # times (membership, touched fan-out, untouched pass-through);
        # unpinned, dedup_incremental_rosters at sf0.1 ran 94 Spark jobs
        # instead of 84
        standing = st.pin(st.adopt(minhash_groups_collapsed(
            corpus, text_col, id_col, threshold, k, staged=c_staged
        )))
        return st.own(st.adopt(incremental_roster_update(
            corpus, increment, standing, text_col, id_col, threshold, k,
            emit=emit, max_pairs=max_pairs, corpus_staged=c_staged,
        )))


def _roster_update_assemble(
    st: Staging,
    cross: DataFrame,
    batch: DataFrame,
    rosters: DataFrame,
    id_col: str,
    emit: str,
) -> DataFrame:
    """The shared quotient-graph assembly behind BOTH roster-maintenance
    operators (:func:`incremental_roster_update` /
    :func:`embedding_roster_update`): contract standing components to
    their label vertex, add the new edges (``cross`` = (inc_id,
    corpus_id, …) probe pairs with corpus endpoints mapped through the
    roster membership; ``batch`` = (id_a, id_b, …) batch-internal
    pairs), run CC over only the touched vertices, fan the merged
    labels back out to rosters. Family-agnostic: nothing here knows
    about texts or vectors — the pair inputs carry the family's
    semantics, the quotient/min-label argument is shared (see the text
    operator's docstring). Its pins go into the caller's staging
    ``st``."""
    mem = rosters.select(
        F.col("cluster_id").alias("_lab"), F.explode("members").alias(id_col)
    )
    # quotient edges: corpus endpoints contract to their standing label
    # (corpus singletons stay themselves); batch endpoints are themselves
    cross_q = (
        cross.select("inc_id", F.col("corpus_id").alias(id_col))
        .join(mem, id_col, "left")
        .select(
            F.col("inc_id").alias("id_a"),
            F.coalesce("_lab", F.col(id_col)).alias("id_b"),
        )
    )
    # persist: the edge list feeds the CC loop (via sym), the CC
    # singleton anti-join (via nodes) and the node-distinct — without
    # the pin the probe+LSH pipelines would re-execute per reference
    edges = st.pin(cross_q.unionByName(batch.select("id_a", "id_b")))
    nodes = (
        edges.select(F.col("id_a").alias(id_col))
        .union(edges.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cc = connected_components(nodes, edges, id_col=id_col)
    qlab = st.pin(cc.select(
        F.col(id_col).alias("_q"), F.col("cluster_id").alias("_new")
    ))
    # touched standing families fan their full membership to the merged
    # label; every other quotient vertex (batch docs, corpus singletons)
    # is its own single member
    std_labels = rosters.select(F.col("cluster_id").alias("_q"), "members")
    touched_members = qlab.join(std_labels, "_q").select(
        "_new", F.explode("members").alias(id_col)
    )
    solo = qlab.join(std_labels.select("_q"), "_q", "left_anti").select(
        "_new", F.col("_q").alias(id_col)
    )
    merged = (
        touched_members.unionByName(solo)
        .groupBy("_new")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("members"),
        )
        .filter(F.col("cluster_size") >= 2)
        .select(F.col("_new").alias("cluster_id"), "cluster_size", "members")
    )
    if emit == "delta":
        # tombstones (round 12): when a batch edge merges two standing
        # families, the merged roster survives under the MIN label only —
        # a pure upsert of the delta would leave the absorbed family's
        # old cluster_id row standing with members that now also appear
        # in the merged roster. Emit every RETIRED standing label (a
        # touched standing family whose label is not the merged
        # component's min) as a (cluster_id, 0, []) tombstone, so a
        # consumer applies the delta as: delete every delta cluster_id,
        # insert the cluster_size >= 2 rows. Touched-but-surviving
        # labels need no tombstone — their updated roster row already
        # overwrites in place.
        retired = (
            qlab.join(std_labels.select("_q"), "_q", "left_semi")
            .filter(F.col("_q") != F.col("_new"))
            .select(
                F.col("_q").alias("cluster_id"),
                F.lit(0).cast("long").alias("cluster_size"),
                F.array().cast(rosters.schema["members"].dataType).alias("members"),
            )
        )
        result = merged.unionByName(retired)
    else:
        untouched = rosters.join(
            qlab.select(F.col("_q").alias("cluster_id")), "cluster_id", "left_anti"
        ).select("cluster_id", "cluster_size", "members")
        result = merged.unionByName(untouched)
    return result


def embedding_roster_update(
    corpus: DataFrame,
    increment: DataFrame,
    rosters: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    emit: str = "full",
    max_pairs: int | None = None,
    corpus_staged: DataFrame | None = None,
) -> DataFrame:
    """Incremental ROSTER maintenance for the EMBEDDING family — the
    twin of :func:`incremental_roster_update`. Standing rosters
    (:func:`embedding_near_dup_groups` over ``corpus``) plus one ingest
    batch compose to the updated rosters over ``corpus ∪ increment``
    through the SAME quotient-graph assembly
    (:func:`_roster_update_assemble`); ``emit`` and the precondition
    contract mirror the text twin (disjoint ids; rosters built at the
    same ``threshold``).

    The one family-specific subtlety is GEOMETRY: text banding is a
    fixed constant, but sign-LSH geometry adapts to corpus size — and
    pair candidacy depends on it. The exact-composition argument
    (pair fate is pairwise) holds because the planes are deterministic
    per (plane, dim): with ONE geometry across the standing build, the
    probe, and the batch-internal pass, a pair's sign keys never depend
    on corpus composition. This operator therefore resolves the
    geometry ONCE (explicit ``n_bands``/``band_bits`` > ``n_hint`` >
    a corpus-side COUNT) and uses it for BOTH its pair stages; the
    standing rosters' geometry is the caller's precondition, exactly
    like threshold/k on the text side — at saturation cosine (≥ 0.95
    with near-1 recall) geometry drift between ingests costs at most
    the documented <1% banding miss budget, and the planted gate pins
    the exact case. Zero-norm/NULL vectors never enter rosters or
    pairs on either path, so eligibility composes unchanged.

    ``corpus_staged`` forwards
    :func:`stage_corpus_sign_keys`'s persisted corpus index to the
    probe stage so a stream of ingests signs only each batch — it must
    have been built at THIS call's resolved geometry (pass the same
    explicit ``n_bands``/``band_bits`` to both; the embedding
    streaming sink does exactly that). Ownership stays with the
    caller.
    """
    if emit not in ("full", "delta"):
        raise ValueError(f"emit must be 'full' or 'delta', got {emit!r}")
    if corpus_staged is not None and (n_bands is None or band_bits is None):
        # an internally-resolved geometry (corpus COUNT) could silently
        # diverge from the one the staged keys were built at — require
        # the caller to thread the resolved pair explicitly
        raise ValueError(
            "corpus_staged requires explicit n_bands and band_bits — the "
            "staged keys are only meaningful at the geometry they were "
            "built with (resolve once, thread the same pair everywhere)"
        )
    n_bands, band_bits = _resolve_band_geometry(
        corpus.filter(eligible_vector(emb_col)),
        threshold, n_bands, band_bits, n_hint,
    )
    with Staging() as st:
        cross = st.adopt(embedding_incremental_probe_pairs(
            corpus, increment, id_col, emb_col, threshold,
            n_bands, band_bits, max_pairs=max_pairs,
            corpus_staged=corpus_staged,
        ))
        batch = st.adopt(embedding_near_dup_pairs(
            increment, id_col, emb_col, threshold,
            n_bands, band_bits, max_pairs=max_pairs,
        ))
        return st.own(_roster_update_assemble(st, cross, batch, rosters, id_col, emit))


def ngram_jaccard_pairs_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    threshold: float = 0.5,
    k: int = 3,
    hash_sets: DataFrame | None = None,
    mem: DataFrame | None = None,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with exact-duplicate collapse — the
    same staging that made the minhash family volume-flat on clone-heavy
    corpora, applied to the exact PPJoin verifier. IDENTICAL output by
    the same argument: within a (block, text) group every member pair is
    an exact pair at J = 1.0 (same shingle set) PROVIDED the text has at
    least one shingle (zero-shingle docs never pair in the uncollapsed
    formulation either), and any cross-group member pair has exactly its
    representatives' Jaccard and block fate, so rep pairs expand through
    the membership map unchanged. The collapse key includes the BLOCK:
    identical texts under different blocks must stay unpaired, exactly
    as blocking dictates uncollapsed.

    Why it matters: the PPJoin inverted index is super-linear in clone
    count (every clone re-enters every posting); over representatives it
    is super-linear only in *distinct-text* near-dup density — measured
    14.1 s → 6.4 s at the 10× decade smoke and 6.3 s at the 100× century
    smoke (volume-FLAT on clone replication), for ~2 s extra staging at sf0.1 — the same
    trade the minhash family made."""
    # the (block, sha256) membership map; no distinct pass for the rep
    # set (a rep is the row whose id equals the group min).
    # ``mem``: caller-staged persisted (id, rep) map over df. Valid
    # ONLY when the caller can vouch it equals the (block, sha256(text))
    # collapse — e.g. when block_col is a constant literal, where the
    # (block, text) groups ARE the text groups (the recall gates' case:
    # their LSH side builds the same text-keyed map, so one sha256 window
    # serves both sides). Its pin stays with the caller.
    with Staging() as st:
        if mem is None:
            mem = st.pin(_membership_map(
                df, text_col, id_col, F.col(block_col).alias("block")
            ))
        rep_ids = mem.filter(F.col(id_col) == F.col("rep")).select(F.col(id_col))
        # persist: rep_docs feeds the PPJoin AND the eligibility filter; the
        # within/cross/union branches of ONE action would otherwise recompute
        # the corpus semi-join per uncached reference (measured 52 s vs 19 s
        # at the 10x smoke before these pins)
        rep_docs = st.pin(df.join(rep_ids, id_col, "left_semi"))
        if hash_sets is not None:
            # caller-staged shingle-hash projection of df: the rep
            # slice is a semi-join, the PPJoin base an id-join inside
            # ngram_jaccard_pairs, and eligibility falls out of the same
            # projection (it keeps exactly the ≥1-shingle docs) — the rep
            # texts are never tokenized a second time
            rep_sets = hash_sets.join(rep_ids, id_col, "left_semi")
            rep_pairs = st.adopt(ngram_jaccard_pairs(
                rep_docs, text_col, id_col, block_col, threshold, k,
                hash_sets=rep_sets,
            ))
            eligible = st.pin(rep_sets.select(F.col(id_col).alias("rep")))
        else:
            rep_pairs = st.adopt(ngram_jaccard_pairs(
                rep_docs, text_col, id_col, block_col, threshold, k
            ))
            # eligibility: groups whose text yields >= 1 shingle (cheap
            # expression filter on the rep docs — no pairing work); persisted
            # because em is referenced by both sides of the within self-join
            eligible = st.pin(rep_docs.filter(
                F.size(shingles(words(F.col(text_col)), k)) > 0
            ).select(F.col(id_col).alias("rep")))
        return st.own(_expand_rep_pairs(mem, eligible, rep_pairs, id_col))
