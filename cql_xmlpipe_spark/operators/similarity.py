"""Similarity search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k of every query against the
  corpus: broadcast the (small) query set, score JVM-side, take top-k per
  query with a rank window. The baseline/verifier.
* ``lsh_topk`` — the scale path: sign-random-projection buckets prune the
  corpus so each query only scores its bucket (plus multiprobe neighbors).
  Planes are derived deterministically from (plane, dim) via a hash — no
  stored model, identical on every executor.

At 100 TB: brute force pays a fold cosine AND a comparison sort for
every one of its O(|Q|·N) pairs — fine when |Q| is small; past that
use ``topk_matmul`` (exact: per-partition BLAS shortlists + Column-fold
re-rank, 17.7× at the measured decade) or the ANN family
(``lsh_topk``/``ivf_topk``/``pq_topk``) where candidates come from an
int-keyed join so the shuffle moves vectors once instead of crossing.

``radius_search`` (the range-query complement) carries its own strategy
dispatch: exact codegen fold, exact Arrow/BLAS scan, or banded sign-key
candidates + identical verify — see its docstring for the regime map.

Every operator is candidate generation → shortlist → exact re-rank, and
composes the shared stages instead of spelling them out: the query-block
fan-out ``_query_fanout``, the BLAS cosine chunks ``_cosine_chunks``, the
numpy band-shortlist kernel ``_band_shortlist``, the ADC re-cut
``_adc_recut`` and the cosine re-rank ``_cosine_rerank`` / rank step
``_top_by_cos``; ``brute_bill_fits`` is the one exact-dispatch rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from cql_xmlpipe_spark.functions.vectors import cosine_safe


def with_sign_bucket(df: DataFrame, emb_col: str, n_planes: int = 8) -> DataFrame:
    """Append an int bucket = sign pattern of `n_planes` hyperplane dots.

    Plane weights are pseudo-random in [-0.5, 0.5), derived from
    xxhash64(plane, dim) — deterministic, no model state, computed inline
    per row (cheap: n_planes × dim fused multiply-adds in codegen).
    """
    dims = F.sequence(F.lit(0), F.size(F.col(emb_col)) - 1)

    def plane_dot(p: int):
        weights = F.transform(
            dims,
            lambda i: (
                F.pmod(F.xxhash64(F.lit(p), i), F.lit(1000)).cast("double") / 1000.0 - 0.5
            ),
        )
        return F.aggregate(
            F.zip_with(F.col(emb_col), weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = None
    for p in range(n_planes):
        bit = F.when(plane_dot(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket.bitwiseOR(bit)
    return df.withColumn("bucket", bucket)


def _plane_matrix(dim: int, n_planes: int):
    """Deterministic d×p hyperplane weight matrix in [-0.5, 0.5).

    Weights derive from splitmix64 (public-domain finalizer; Steele et
    al., OOPSLA'14) over the flat plane·dim index — no stored model, no
    RNG-library version dependence, identical on every executor and
    every run. uint64 arithmetic wraps mod 2⁶⁴ natively in numpy."""
    import numpy as np

    idx = np.arange(dim * n_planes, dtype=np.uint64)
    z = idx + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    w = (z % np.uint64(1000)).astype(np.float64) / 1000.0 - 0.5
    return w.reshape(n_planes, dim).T


def auto_band_config(
    n_hint: int,
    threshold: float = 0.95,
    recall_target: float = 0.99,
    cand_per_vec: int = 32,
) -> tuple[int, int]:
    """(n_bands, band_bits) for sign-LSH sized to a corpus-size hint.

    Solves the two LSH design equations jointly (SCALE.md's "band_bits
    grows ~2·log₂N" policy, implemented instead of documented):

    * recall: a true pair at cosine ``threshold`` matches one band with
      probability p^band_bits, p = 1-arccos(threshold)/π; n_bands =
      ⌈ln(1-recall_target)/ln(1-p^band_bits)⌉ keeps whole-pipeline
      recall ≥ recall_target at every width.
    * junk floor: random non-near pairs collide on one band with
      probability 2^-band_bits, so expected junk candidates are
      n_bands·C(N,2)/2^band_bits; the smallest (even) band_bits with
      junk ≤ ``cand_per_vec``·N bounds verify cost at O(N), the flat
      floor — this is what makes band_bits ≈ 2·log₂N + O(log log) once
      N clears the 16-bit default's ~10⁶ knee.

    The price of scale is index width, not a rewrite: (23,16) at 10⁴,
    ≈(37,20) at 10⁶, ≈(138,32) at 10⁹ — n_bands·N index rows of three
    ints, the standard sign-LSH cost law at this (threshold, recall)
    point. band_bits caps at 62 so a packed key stays in a signed int64.
    Deterministic pure arithmetic — safe to call on executors or driver.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    n = max(2, int(n_hint))
    for bits in range(16, 63, 2):
        n_bands = max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p**bits)))
        junk = n_bands * n * (n - 1) / 2.0 / 2.0**bits
        if junk <= cand_per_vec * n:
            return n_bands, bits
    n_bands = max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p**62)))
    return n_bands, 62


def banded_sign_keys(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 24,
    band_bits: int = 16,
) -> DataFrame:
    """(id, band, bkey) LSH index rows: ``n_bands`` keys per vector, each
    key the packed sign pattern of ``band_bits`` hyperplane dots.

    This is the many-planes sibling of :func:`with_sign_bucket` for
    CANDIDATE-PAIR generation rather than point lookup. The two differ
    deliberately: with_sign_bucket inlines each plane dot as a Column
    expression (fine at ≤16 planes, and its outputs are pinned by the
    similarity fixtures), while this one needs n_bands×band_bits planes
    (384 at the defaults) — per-row codegen of 384 fold-aggregates would
    dwarf the query, so the dots are one Arrow-batched numpy matmul
    against a splitmix64-derived weight matrix built per batch on the
    executor (d×384 floats, microseconds).

    Scale law (document, don't hide): a random non-near pair collides on
    one band with probability 2^-band_bits, so expected junk candidates
    are n_bands·C(N,2)/2^band_bits — at the 16-bit default and N=10⁶
    that is ~10⁸ cheap int-join rows, and band_bits should grow ~2·log₂N
    beyond that (a parameter, not a rewrite). Recall at cosine t is
    1-(1-p^band_bits)^n_bands with p = 1-arccos(t)/π: ≈0.992 at t=0.95,
    ≈1-2e-7 at t=0.99 with the defaults.
    """
    import numpy as np
    from pyspark.sql import types as T

    n_planes = n_bands * band_bits
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("band", T.IntegerType()),
            T.StructField("bkey", T.LongType()),
        ]
    )
    powers = None

    def gen(batches):
        nonlocal powers
        if powers is None:
            powers = np.left_shift(np.int64(1), np.arange(band_bits, dtype=np.int64))
        w_cache: dict = {}
        for pdf in batches:
            # NULL embeddings carry no sign pattern — drop them here (the
            # Column-expression paths propagate NULLs the same way: a null
            # vector can never become a candidate)
            pdf = pdf[pdf[emb_col].notna()]
            if len(pdf) == 0:
                continue
            mat = _stack(pdf[emb_col], "banded_sign_keys", pdf[id_col])
            dim = mat.shape[1]
            planes = w_cache.get(dim)
            if planes is None:
                planes = _plane_matrix(dim, n_planes)
                w_cache[dim] = planes
            bits = (mat @ planes) >= 0.0
            keys = np.empty((len(pdf), n_bands), dtype=np.int64)
            for b in range(n_bands):
                block = bits[:, b * band_bits : (b + 1) * band_bits]
                keys[:, b] = block.astype(np.int64) @ powers
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "bkey": keys.reshape(-1),
                }
            )

    return df.select(id_col, emb_col).mapInPandas(gen, schema=out_schema)


def _stack(vals: pd.Series, op_name: str, ids: pd.Series | None = None):
    """float64 matrix of a pandas Series of arrays — the one ragged check
    of every per-batch kernel and of the driver-side query collect. On
    raggedness it names the lengths and, given the rows' ``ids``, up to
    five ids off the most common dimension."""
    import numpy as np

    try:
        return np.stack(vals.to_numpy()).astype(np.float64)
    except ValueError as exc:
        lens = vals.map(len)
        off = ""
        if ids is not None:
            bad = ids[(lens != lens.mode().iloc[0]).to_numpy()].tolist()[:5]
            off = f" (off-dimension {ids.name}s: {bad})"
        raise ValueError(
            f"{op_name}: ragged embedding lengths "
            f"{sorted(lens.unique().tolist())}{off}; embeddings must share "
            "one dimension"
        ) from exc


def _collect_query_matrix(
    queries: DataFrame, q_id_col: str, q_emb_col: str, op_name: str
):
    """Driver-side (qids, Q) of the non-null query vectors, Q float64 —
    the one collect the matmul/ADC shortlist paths pay. Returns
    (None, None) when no query has an embedding."""
    qp = queries.select(q_id_col, q_emb_col).toPandas()
    qp = qp[qp[q_emb_col].notna()]
    if not len(qp):
        return None, None
    return qp[q_id_col].to_numpy(), _stack(qp[q_emb_col], op_name, qp[q_id_col])


#: hard ceiling on query blocks in the block-nested exact paths: each
#: block is a full corpus scan, so past this the job is ~64 scans and
#: the ANN/banded family is the honest answer, not more blocks.
MAX_QUERY_BLOCKS = 64


def _query_blocks(
    n_rows: int, total_bytes: int, max_query_mb: int, op_name: str, hint: str
) -> list[tuple[int, int]]:
    """[lo, hi) row slices of the collected query matrix such that each
    slice's closure payload is <= ``max_query_mb`` — the block-nested
    exact path for |Q| beyond a single task closure's budget. Each block
    is one more scan of the corpus (exact retrieval between two LARGE
    sets is irreducibly N·|Q|); :data:`MAX_QUERY_BLOCKS` bounds the
    rescan bill and names the ANN alternative past it."""
    import math

    if total_bytes <= max_query_mb * 1e6 or n_rows <= 1:
        return [(0, n_rows)]
    per_row = total_bytes / n_rows
    rows_per_block = max(1, int(max_query_mb * 1e6 // per_row))
    n_blocks = math.ceil(n_rows / rows_per_block)
    if n_blocks > MAX_QUERY_BLOCKS:
        raise ValueError(
            f"{op_name}: {total_bytes / 1e6:.0f} MB of query vectors needs "
            f"{n_blocks} blocks of max_query_mb={max_query_mb} — each block "
            f"is a full corpus rescan and the cap is {MAX_QUERY_BLOCKS}. "
            f"{hint}"
        )
    return [
        (lo, min(lo + rows_per_block, n_rows))
        for lo in range(0, n_rows, rows_per_block)
    ]


def _pair_schema(
    queries: DataFrame, corpus: DataFrame, q_id_col: str, id_col: str, *extra
):
    """(q_id, id, *extra) schema of a candidate kernel's output rows."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(q_id_col, queries.schema[q_id_col].dataType),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            *extra,
        ]
    )


def _query_fanout(
    scan: DataFrame,
    queries: DataFrame,
    q_id_col: str,
    q_emb_col: str,
    schema,
    kernel,
    closure_bytes,
    max_query_mb: int,
    op_name: str,
    hint: str,
) -> tuple[DataFrame, int]:
    """The query-block fan-out of the numpy candidate paths: collect the
    query matrix once, split it into blocks whose closure payload fits
    ``max_query_mb`` (:func:`_query_blocks`; ``closure_bytes(Q)`` prices
    the whole set), run ``scan.mapInPandas(kernel(Q_block, qids_block))``
    once per block and union the parts once. Per-query rows are
    independent, so the union is exact. Returns the frame and the number
    of query vectors; with none, the frame is empty and scans nothing."""
    from functools import reduce

    qids, Q = _collect_query_matrix(queries, q_id_col, q_emb_col, op_name)
    if Q is None:
        return scan.sparkSession.createDataFrame([], schema), 0
    blocks = _query_blocks(len(qids), closure_bytes(Q), max_query_mb, op_name, hint)
    parts = [
        scan.mapInPandas(kernel(Q[lo:hi], qids[lo:hi]), schema=schema)
        for lo, hi in blocks
    ]
    return reduce(DataFrame.union, parts), len(qids)


def _cosine_chunks(
    pdf: pd.DataFrame, Q, qids, id_col: str, emb_col: str, op_name: str
):
    """Exact cosines of one Arrow batch against the query block, as
    (ids, cos, valid) row chunks: ``C @ Q.T / (‖c‖·‖q‖)`` in float64
    BLAS, with ``valid`` masking zero denominators (a zero-norm vector
    never qualifies — the NULL-cosine contract) and self-pairs.

    Rows are chunked to bound the per-task pair-matrix working set: a
    full batch of 10k rows × a 2k-query set is three ~160 MB float64
    intermediates, and ~30 concurrent first-touch allocations of that
    size measured ~2.5× the whole warm query in kernel page-zeroing —
    chunks keep each task's live pair block at ~tens of MB."""
    import numpy as np

    pdf = pdf[pdf[emb_col].notna()]
    if not len(pdf):
        return
    C_all = _stack(pdf[emb_col], op_name, pdf[id_col])
    ids_all = pdf[id_col].to_numpy()
    qn = np.sqrt((Q * Q).sum(axis=1))
    chunk = max(1, 4_000_000 // max(len(qids), 1))
    for lo in range(0, len(ids_all), chunk):
        C = C_all[lo : lo + chunk]
        ids = ids_all[lo : lo + chunk]
        cn = np.sqrt((C * C).sum(axis=1))
        denom = cn[:, None] * qn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (C @ Q.T) / denom
        yield ids, cos, (denom != 0.0) & (ids[:, None] != qids[None, :])


def _band_edge(kth):
    """Upper edge of the keep band above a per-query n-th best score
    (lower is better): 1e-9 relative, never under 1e-9 absolute. Wide
    enough to absorb numpy-vs-Column-fold ulp drift, so a boundary tie
    is never cut by the wrong arithmetic."""
    import numpy as np

    return kth + 1e-9 * np.maximum(1.0, np.abs(kth))


def _make_adc_band_cut(shortlist: int):
    """Per-query shortlist-th-best band cut over accumulated
    (query_index, id, score) triples, lower score better — the
    compaction and final cut of :func:`_band_shortlist` (volume control
    only; correctness rides the exact re-rank, never this)."""
    import numpy as np

    def group_band_cut(qi, bid, ba):
        order = np.lexsort((ba, qi))
        qi, bid, ba = qi[order], bid[order], ba[order]
        starts = np.flatnonzero(np.r_[True, qi[1:] != qi[:-1]])
        counts = np.diff(np.r_[starts, len(qi)])
        kth_pos = starts + np.minimum(shortlist, counts) - 1
        group_of_row = np.repeat(np.arange(len(starts)), counts)
        keep = ba <= _band_edge(ba[kth_pos][group_of_row])
        return qi[keep], bid[keep], ba[keep]

    return group_band_cut


def _band_shortlist(chunks, n: int, n_queries: int, min_compact: int = 4_000_000):
    """The per-batch shortlist of the numpy candidate kernels (exact
    top-k, PQ and IVF-PQ ADC). ``chunks`` yields (query_index, ids,
    score) with ``score`` a queries × rows matrix, lower better, +inf
    excluded. Each chunk keeps, per query, every row within the
    :func:`_band_edge` band of its n-th best score: an O(n)
    ``np.partition`` finds that score, and the band (not a hard cut to
    n rows, which would drop boundary ties arbitrarily) lets every tie
    through. Any global top-n member is in its chunk's band, so the cut
    is lossless. The kept triples accumulate and are compacted by the
    same band cut whenever they pass max(``min_compact``, 4·|Q|·n) rows
    (without that the accumulator grows to n_chunks·|Q|·n triples, GBs
    at |Q| ~ 10⁵ over a wide partition); one final cut. Returns the
    surviving (query_index, id) arrays, or None when nothing survives."""
    import numpy as np

    cut = _make_adc_band_cut(n)
    compact_at = max(min_compact, 4 * n_queries * n)
    acc: tuple[list, list, list] = ([], [], [])
    acc_n = 0
    for q_index, ids, score in chunks:
        keep = np.isfinite(score)
        if score.shape[1] > n:
            kth = np.partition(score, n - 1, axis=1)[:, n - 1]
            keep &= score <= _band_edge(kth)[:, None]
        qi, ci = np.nonzero(keep)
        if len(qi):
            for part, new in zip(acc, (q_index[qi], ids[ci], score[qi, ci])):
                part.append(new)
            acc_n += len(qi)
        if acc_n > compact_at:
            kept = cut(*map(np.concatenate, acc))
            acc = tuple([a] for a in kept)
            acc_n = len(kept[0])
    if not acc_n:
        return None
    qi, ids, _ = cut(*map(np.concatenate, acc))
    return qi, ids


def _top_by_cos(scored: DataFrame, k: int, id_col: str, q_id_col: str) -> DataFrame:
    """The rank step every exact cosine top-k ends in: (cos desc, id)
    ``row_number`` per query, ``rank <= k``, the output columns."""
    w = W.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "rank", "cos")
    )


def _cosine_rerank(
    pairs: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
) -> DataFrame:
    """Exact cosine re-rank of candidate (q_id, id) pairs: fetch the
    full vectors by id-join for the candidates ALONE (never dragging
    them through candidate generation — the row-width lesson, SCALE.md),
    score with the same ``cosine_safe`` fold and (cos desc, id)
    tie-break as :func:`brute_force_topk`, keep top-``k`` per query.
    Output and cos bits equal the brute plan's on every pair that
    reaches it."""
    reranked = (
        pairs.select(q_id_col, id_col)
        .join(corpus.select(id_col, emb_col), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_emb_col)), q_id_col)
        .withColumn("cos", cosine_safe(F.col(emb_col), F.col(q_emb_col)))
        .filter(F.col("cos").isNotNull())
    )
    return _top_by_cos(reranked, k, id_col, q_id_col)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (queries broadcast).

    The REFERENCE plan: every pair pays a codegen fold cosine and a
    per-partition comparison sort before the (already shuffle-pruned)
    rank window — measured 594 s at the jit-100× decade (SCALE.md).
    :func:`topk_matmul` produces the identical output (cos bits
    included) at BLAS speed; use it past gate-scale bills."""
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col(q_id_col))
        .withColumn("cos", cosine_safe(F.col(emb_col), F.col(q_emb_col)))
        .filter(F.col("cos").isNotNull())
    )
    return _top_by_cos(scored, k, id_col, q_id_col)


def _radius_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str,
    emb_col: str,
    q_id_col: str,
    q_emb_col: str,
    max_query_mb: int = 256,
) -> DataFrame:
    """EXACT radius search via Arrow-batched BLAS: the query matrix is
    collected once (guarded by ``max_query_mb``), shipped in the task
    closure, and every corpus batch scores against it in row-chunked
    float64 matmuls (:func:`_cosine_chunks`) — the same N·|Q| pair bill
    as the codegen fold but at BLAS throughput (~50× steady-state on the
    |Q| = N/97 shape at the 100× decade, SCALE.md). The qualifying SET
    is identical to the broadcast path; only the last-ulp of ``cos`` can
    differ (BLAS uses blocked summation where the Column fold is
    left-to-right), which is why the hash-exact oracle gate pins the
    broadcast path and the matmul gate pins the set. Zero-norm vectors
    never qualify (the NULL-cosine contract, expressed here as a
    denominator mask).

    |Q| beyond ``max_query_mb`` of closure budget splits into query
    BLOCKS (:func:`_query_fanout`), one corpus scan per block, results
    unioned — exact output at any |Q| up to :data:`MAX_QUERY_BLOCKS`
    rescans, no refusal."""
    import numpy as np
    from pyspark.sql import types as T

    def kernel(Q, qids):
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for ids, cos, valid in _cosine_chunks(
                    pdf, Q, qids, id_col, emb_col, "radius_search"
                ):
                    ci, qi = np.nonzero(valid & (cos >= threshold))
                    if len(ci):
                        yield pd.DataFrame(
                            {q_id_col: qids[qi], id_col: ids[ci], "cos": cos[ci, qi]}
                        )

        return gen

    pairs, _ = _query_fanout(
        corpus.select(id_col, emb_col),
        queries,
        q_id_col,
        q_emb_col,
        _pair_schema(
            queries, corpus, q_id_col, id_col, T.StructField("cos", T.DoubleType())
        ),
        kernel,
        lambda Q: Q.nbytes,
        max_query_mb,
        "radius_search",
        "Use candidates='banded' (high thresholds) or raise max_query_mb — "
        "a low-threshold radius over two large sets is irreducibly N×|Q|.",
    )
    return pairs


#: auto-mode decision constants for :func:`radius_search` — static so the
#: chosen physical strategy is a pure function of (corpus size, |Q|,
#: threshold) and gate plans never flip between runs.
RADIUS_BRUTE_BILL_MAX = 100_000_000  #: max N·|Q| pairs the codegen fold scans
#: guidance, not an auto-dispatch input (auto is exact-only): LSH index
#: width past which explicit candidates='banded' stops paying vs the
#: exact matmul scan at the measured decades; see SCALE.md's
#: banded-vs-matmul crossover table.
RADIUS_MAX_PLANES = 4096


def brute_bill_fits(
    corpus: DataFrame, queries: DataFrame, n_hint: int | None = None
) -> bool:
    """The one exact-dispatch rule of the similarity family: True while
    the N·|Q| pair bill is <= :data:`RADIUS_BRUTE_BILL_MAX`, i.e. while
    the codegen-fold plans (``brute_force_topk``, radius ``broadcast``)
    are cheap enough; past it the BLAS paths (``topk_matmul``, radius
    ``matmul``) take over — exact either way. N comes from ``n_hint`` or
    one COUNT; |Q| from a LIMIT-bounded count that stops one row past
    the budget."""
    cap = RADIUS_BRUTE_BILL_MAX
    n = n_hint if n_hint is not None else corpus.count()
    nq = queries.limit(max(1, cap // max(n, 1)) + 1).count()
    return n * nq <= cap


def topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    max_query_mb: int = 256,
) -> DataFrame:
    """EXACT cosine top-k with the N·|Q| fold-and-sort bill removed —
    the top-k sibling of the radius matmul path.

    :func:`brute_force_topk` scores every (corpus, query) pair and ranks
    with a window over q_id. Spark 4's partial ``WindowGroupLimit``
    already prunes the SHUFFLE to ≤ partitions·|Q|·k rows, but each
    partition still pays the fold cosine for all N_p·|Q| pairs plus a
    full comparison sort of them — the same quadratic compute class the
    radius measurement exposed, latent here behind the small |Q| of
    the gate shape (measured 594 s at the 100× decade). This variant:

    1. **Shortlist** (Arrow/BLAS): each corpus batch scores its rows in
       row-chunked float64 matmuls (:func:`_cosine_chunks`; dgemm
       instead of per-pair folds) and keeps its own top-k per query by
       O(n) partition instead of the full sort (:func:`_band_shortlist`
       over −cos), emitting only those rows. Any global top-k member is
       necessarily in its batch's top-k, so pruning is lossless; the
       band below each k-th BLAS score (1e-9 for |cos| ≤ 1) absorbs the
       ≤1-ulp BLAS-vs-fold disagreement and keeps every exact tie at the
       boundary, so the re-rank's (cos desc, id) contract picks the same
       winners as brute.
    2. **Exact re-rank** (codegen, :func:`_cosine_rerank`): the
       surviving candidates fetch their embeddings by id-join and the
       final (rank, cos) come from the SAME Column-fold cosine and
       (cos desc, id) tie-break as :func:`brute_force_topk` — so the
       output, cos bits included, is identical to the brute plan's and
       hash-exact against the DuckDB oracle (gate
       ``similarity_topk_matmul``).

    Zero-norm/NULL vectors never shortlist (masked denominators), the
    same never-qualify semantics as the Column paths.

    |Q| beyond ``max_query_mb`` splits into query blocks (each <= the
    cap), one shortlist scan per block, candidates unioned before the
    single re-rank — exact output at any |Q| up to
    :data:`MAX_QUERY_BLOCKS` corpus rescans, no refusal.
    """
    import numpy as np

    def kernel(Q, qids):
        q_index = np.arange(len(qids))

        def shortlist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                kept = _band_shortlist(
                    (
                        (q_index, ids, np.where(valid, -cos, np.inf).T)
                        for ids, cos, valid in _cosine_chunks(
                            pdf, Q, qids, id_col, emb_col, "topk_matmul"
                        )
                    ),
                    k,
                    len(qids),
                )
                if kept is not None:
                    qi, bid = kept
                    yield pd.DataFrame({q_id_col: qids[qi], id_col: bid})

        return shortlist

    cands, _ = _query_fanout(
        corpus.select(id_col, emb_col),
        queries,
        q_id_col,
        q_emb_col,
        _pair_schema(queries, corpus, q_id_col, id_col),
        kernel,
        lambda Q: Q.nbytes,
        max_query_mb,
        "topk_matmul",
        "For |Q| this large use lsh_topk/ivf_topk/pq_topk "
        "(candidate-pruned ANN) or raise max_query_mb.",
    )
    return _cosine_rerank(
        cands.dropDuplicates([q_id_col, id_col]),
        corpus, queries, k, id_col, emb_col, q_id_col, q_emb_col,
    )


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    candidates: str = "auto",
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    recall_target: float = 0.99,
    max_query_mb: int = 256,
) -> DataFrame:
    """Radius search: every corpus vector within cosine >= ``threshold``
    of each query — the range-query complement of
    :func:`brute_force_topk` (top-k bounds the RESULT size, radius
    bounds the SIMILARITY; retrieval and near-dup probes need both).

    Output: (q_id, vec_id, cos), one row per qualifying pair, no rank —
    a radius result is a SET, and imposing a rank would turn schema
    stability into a function of corpus density.

    Mirrors ``cosine_safe``'s NULL-on-zero-norm contract (a zero-norm
    corpus or query vector yields NULL, which never qualifies the
    threshold filter in either engine, instead of an ANSI
    divide-by-zero crash) with the norms hoisted out of the pair loop —
    one fold per corpus row and per query instead of two per PAIR
    (measured 3× on the |Q| = N/97 gate shape); the final
    ``dot/(nc·nq)`` divides the same operands in the same order as
    ``cosine_safe``, so results stay bit-identical to the unhoisted
    form and the DuckDB oracle.

    ``candidates`` picks the physical strategy (the 100 TB story):

    * ``"broadcast"`` — the exact codegen scan: queries broadcast, the
      selective threshold filter sits directly on the corpus scan, cos
      is bit-identical to the oracle fold. Right whenever the N·|Q|
      pair bill is small enough to grind through.
    * ``"banded"`` — candidates from the ``banded_sign_keys`` join (the
      recall-measured device of operators/dedup.py: both sides sign
      n_bands×band_bits hyperplanes; only fixed-width (id, band, key)
      ints shuffle), then the IDENTICAL hoisted-norm ``cosine >=
      threshold`` verify on the fetched pairs — banded output is a
      strict subset of the exact set with per-pair recall
      ``1-(1-p^band_bits)^n_bands``, p = 1-arccos(t)/π, which
      :func:`auto_band_config` sizes to ``recall_target`` at cosine
      exactly t (higher above t). ONLY economical at high thresholds:
      the LSH exponent ρ → 1 as t drops, and the auto geometry's index
      width explodes past :data:`RADIUS_MAX_PLANES` (t=0.95 → 368
      planes at 10⁴ vectors; t=0.7 → 7k+; t=0.35 → hopeless — no sign
      LSH prunes a low-similarity radius, which is information, not an
      implementation gap).
    * ``"matmul"`` — the exact scan at BLAS speed (see
      :func:`_radius_matmul`): same pair bill as broadcast, ~50×
      faster at the 100× decade, cos equal to the fold within 1 ulp.
      The scale path for the low-threshold regime banding cannot
      serve; |Q| past ``max_query_mb`` of closure budget splits into
      query blocks (still exact — one corpus scan per block).
    * ``"auto"`` (default) — EXACT-ONLY dispatch by
      :func:`brute_bill_fits`: ``broadcast`` while N·|Q| <=
      :data:`RADIUS_BRUTE_BILL_MAX` (bit-exact, and the bill is small);
      past that, ``matmul``. auto NEVER selects ``banded``: the banded
      set is ~recall_target-complete, not complete, and a dispatcher
      that silently swaps a complete result for a 99%-complete one once
      the data grows is a correctness trap — approximate candidates are
      an explicit opt-in, priced by the measured crossover in SCALE.md.
    """
    from cql_xmlpipe_spark.functions.vectors import dot, norm

    mode = candidates
    if mode == "auto":
        mode = "broadcast" if brute_bill_fits(corpus, queries, n_hint) else "matmul"
    if mode == "matmul":
        return _radius_matmul(
            corpus,
            queries,
            threshold,
            id_col,
            emb_col,
            q_id_col,
            q_emb_col,
            max_query_mb=max_query_mb,
        )

    c = corpus.select(
        F.col(id_col), F.col(emb_col), norm(F.col(emb_col)).alias("_c_norm")
    )
    q = queries.select(
        F.col(q_id_col), F.col(q_emb_col), norm(F.col(q_emb_col)).alias("_q_norm")
    )
    denom = F.col("_c_norm") * F.col("_q_norm")
    cos = F.when(denom != 0.0, dot(F.col(emb_col), F.col(q_emb_col)) / denom)
    if mode == "broadcast":
        scored = c.crossJoin(F.broadcast(q))
    elif mode == "banded":
        if n_bands is None and band_bits is None:
            n = n_hint if n_hint is not None else corpus.count()
            n_bands, band_bits = auto_band_config(n, threshold, recall_target)
        n_bands = 24 if n_bands is None else n_bands
        band_bits = 16 if band_bits is None else band_bits
        # norm > 0 also drops NULLs; zero-norm vectors can never verify
        # (NULL cosine) but would all share one sign pattern — a
        # self-inflicted hot bucket the near-dup family also excludes
        ck = banded_sign_keys(
            corpus.filter(norm(F.col(emb_col)) > 0), emb_col, id_col,
            n_bands, band_bits,
        )
        qk = banded_sign_keys(
            queries.filter(norm(F.col(q_emb_col)) > 0), q_emb_col, q_id_col,
            n_bands, band_bits,
        )
        cands = (
            ck.join(qk, ["band", "bkey"])
            .filter(F.col(id_col) != F.col(q_id_col))
            .select(q_id_col, id_col)
            .distinct()
        )
        scored = cands.join(c, id_col).join(q, q_id_col)
    else:
        raise ValueError(
            f"radius_search: unknown candidates={candidates!r} "
            "(expected auto | broadcast | banded | matmul)"
        )
    if mode == "broadcast":
        scored = scored.filter(F.col(id_col) != F.col(q_id_col))
    return (
        scored.withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(threshold))
        .select(q_id_col, id_col, "cos")
    )


def _centers(model):
    """A fitted KMeans model's centroids as one float64 k×d matrix."""
    import numpy as np

    return np.stack(
        [
            c.toArray() if hasattr(c, "toArray") else np.asarray(c)
            for c in model.clusterCenters()
        ]
    )


def _fit_naming_ragged(
    fit, corpus: DataFrame, id_col: str, emb_col: str, op_name: str
):
    """``fit()`` a KMeans stage, naming ragged embeddings if that is why
    it died. MLlib reports mixed dimensions as a JVM
    ``IllegalArgumentException`` ("requirement failed: Dimensions
    mismatch") raised inside a fit task, for the IVF fit and a PQ
    subspace slice alike; only then is the corpus's array-length profile
    scanned, and a ragged one raises naming the dimensions and one
    example id per dimension. Every other failure re-raises unchanged
    and starts no job — at 100 TB the diagnostic is a full scan, not a
    cost for an unrelated error path."""
    from py4j.protocol import Py4JJavaError

    try:
        return fit()
    except Py4JJavaError as exc:
        cause = exc.java_exception
        while (
            cause is not None
            and cause.getClass().getName() != "java.lang.IllegalArgumentException"
        ):
            cause = cause.getCause()
        if cause is not None:
            dims = (
                corpus.filter(F.col(emb_col).isNotNull())
                .groupBy(F.size(F.col(emb_col)).alias("dim"))
                .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("example"))
                .orderBy("dim")
                .collect()
            )
            if len(dims) > 1:
                raise ValueError(
                    f"{op_name}: ragged '{emb_col}' dimensions "
                    f"{[(r['dim'], r['n']) for r in dims]} (example {id_col} "
                    f"per dim: {[r['example'] for r in dims]}); embeddings "
                    "must share one dimension"
                ) from None
        raise


def ivf_build(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """BUILD-ONCE half of IVF: train the coarse quantizer and assign
    every corpus vector to its nearest cell.

    Returns ``(assignments, centers)`` — assignments is the (id, cell)
    DataFrame (int cell per vector; NULL embedding → NULL cell), centers
    the n_cells×d centroid matrix as plain nested lists (picklable,
    JSON-able — an index artifact, not a live model object). Feed both
    to :func:`ivf_query` any number of times; :func:`ivf_topk` is
    exactly ``ivf_query(*ivf_build(...))`` (pinned by pytest), and
    :func:`ann_index_write`/:func:`ann_index_read` persist the pair as
    parquet + a params row for cross-process reuse (production retrains
    per INGEST, not per QUERY).

    Train: Spark ML KMeans (seeded, distributed) learns ``n_cells``
    centroids; the tiny centroid matrix broadcasts to every executor
    inside the assignment UDF's closure. Assign: one Arrow-batched
    pandas UDF computes each vector's nearest centroid as a single
    matmul (argmin of |x-c|² via -2xCᵀ + |c|²).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.filter(F.col(emb_col).isNotNull()).select(
        array_to_vector(F.col(emb_col)).alias("features")
    )
    centers = _fit_naming_ragged(
        lambda: _centers(
            KMeans(k=n_cells, seed=42, maxIter=20, featuresCol="features").fit(train)
        ),
        corpus, id_col, emb_col, "ivf_topk",
    )  # k×d
    nearest = _ivf_cell_udfs(centers, top_n=1, as_array=False)
    assignments = corpus.select(id_col, nearest(F.col(emb_col)).alias("cell"))
    return assignments, [[float(x) for x in row] for row in centers]


def _ivf_probe(X, centers, n: int):
    """The ``n`` nearest cells of each row of ``X``, nearest first:
    argsort descending of x·c − ‖c‖²/2 (≡ ascending ‖x − c‖², the row's
    own ‖x‖² dropped). The one probe rule of IVF assignment, IVF query
    fan-out and IVF-PQ gating, so all three agree on every cell."""
    import numpy as np

    half_norms = (centers * centers).sum(axis=1) / 2.0
    return np.argsort(-(X @ centers.T - half_norms), axis=1)[:, :n].astype("int32")


def _ivf_cell_udfs(centers, top_n: int, as_array: bool):
    """Arrow-batched nearest-cell UDF over a centroid matrix: the single
    int cell (``as_array=False`` — corpus assignment) or the ``top_n``
    probe cells (``as_array=True`` — query fan-out)."""
    import numpy as np
    from pyspark.sql import types as T

    centers = np.asarray(centers, dtype=np.float64)

    def _top_cells(batch: pd.Series, n: int) -> list:
        # NULL embeddings get a NULL cell — they drop at the equi-join,
        # the same "a null vector is never a result" semantics the
        # Column-expression paths (with_sign_bucket, cosine) give for free
        out: list = [None] * len(batch)
        mask = batch.notna()
        if not mask.any():
            return out
        tops = _ivf_probe(_stack(batch[mask], "ivf_topk"), centers, n)
        for i, a in zip(np.flatnonzero(mask.to_numpy()), tops):
            out[i] = a
        return out

    if not as_array:

        @F.pandas_udf(T.IntegerType())
        def nearest_cell(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for batch in it:
                yield pd.Series(
                    [int(a[0]) if a is not None else None for a in _top_cells(batch, 1)]
                )

        return nearest_cell

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            yield pd.Series(
                [
                    [int(x) for x in a] if a is not None else None
                    for a in _top_cells(batch, top_n)
                ]
            )

    return probe_cells


def ivf_query(
    corpus: DataFrame,
    queries: DataFrame,
    assignments: DataFrame,
    centers: list[list[float]],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """QUERY-MANY half of IVF: top-k against a prebuilt
    (:func:`ivf_build`) index. Each query probes its ``n_probe``
    nearest cells; candidate generation is an equi-join on int cell
    ids — vectors shuffle once into cells, queries explode
    ``n_probe``×.

    At 100 TB: the cell assignment is a one-time linear scan amortized
    over every query batch (no shuffle beyond the cell-id join);
    recall/latency trades via n_cells ↛ corpus/n_cells per probe. The
    LSH variant needs no training; IVF gives tighter cells on
    clustered data.
    """
    probe_cells = _ivf_cell_udfs(centers, top_n=n_probe, as_array=True)
    # candidate generation joins BARE (id, cell) ints and the scoring
    # window sorts only (q_id, id, cos) — embeddings are fetched by
    # id-join for the candidates alone, never dragged through the
    # cell join or the rank sort (the pq row-width lesson, SCALE.md)
    q = queries.select(
        q_id_col, F.explode(probe_cells(F.col(q_emb_col))).alias("cell")
    )
    cands = (
        assignments.join(q, "cell")
        .filter(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col)
    )
    return _cosine_rerank(
        cands, corpus, queries, k, id_col, emb_col, q_id_col, q_emb_col
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the one-call composition ``ivf_query(*ivf_build(...))``; see the
    halves for the train/assign/search design. Per-call rebuild is the
    GATE shape; production builds once per ingest (:func:`ivf_build`,
    persisted via :func:`ann_index_write`) and queries many."""
    assignments, centers = ivf_build(corpus, n_cells, id_col, emb_col)
    return ivf_query(
        corpus, queries, assignments, centers, k, n_probe,
        id_col, emb_col, q_id_col, q_emb_col,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose sign-bucket is
    within `multiprobe` bit flips of the query's bucket.

    Candidate generation is an equi-join on bucket ids (shuffle on ints);
    recall/latency trades via n_planes and multiprobe.
    """
    # bucket join carries BARE (id, bucket) ints; embeddings are fetched
    # by id-join for the deduped candidates only, so neither the
    # candidate join nor the rank sort ever holds a vector row
    # (the pq row-width lesson, SCALE.md)
    c = with_sign_bucket(corpus, emb_col, n_planes).select(id_col, "bucket")
    q = with_sign_bucket(
        queries.withColumnRenamed(q_emb_col, emb_col), emb_col, n_planes
    ).select(q_id_col, "bucket")
    # multiprobe: each query also probes buckets one bit-flip away
    probes = [F.col("bucket")]
    if multiprobe >= 1:
        probes += [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    q = q.withColumn("probe", F.explode(F.array(*probes))).drop("bucket")
    cands = (
        c.join(q, c["bucket"] == q["probe"])
        .filter(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col)
        .distinct()
    )
    return _cosine_rerank(
        cands, corpus, queries, k, id_col, emb_col, q_id_col, q_emb_col
    )


def _pq_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """Subspace [start, end) dim boundaries: dim//m each, remainder to
    the last — one definition shared by train/encode/LUT so the three
    stages can never disagree on the split."""
    d0 = dim // m
    if d0 == 0:
        raise ValueError(f"pq_topk: {m} subspaces over {dim} dims leaves an empty subspace")
    return [(s * d0, (s + 1) * d0 if s < m - 1 else dim) for s in range(m)]


def _codebooks(books):
    """(float64 codebook arrays, subspace [start, end) bounds) of a
    trained PQ artifact: each book's width, in order — the query side's
    one reading of what :func:`_pq_bounds` split at build time."""
    from itertools import accumulate

    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in books]
    edges = [0, *accumulate(b.shape[1] for b in books)]
    return books, list(zip(edges[:-1], edges[1:]))


def _pq_lut_matrix(Qb, books, bounds):
    """(|Qb|, m·ks) float64 ADC lookup table: squared L2 distance from
    each query (sub)vector to every codeword — the one LUT definition
    shared by the PQ and IVF-PQ query paths (driver-side block matrices
    AND the distributed per-row UDFs), so the numpy shortlist and the
    exact Column-fold re-cut can never disagree on the table layout."""
    import numpy as np

    m, ks = len(books), books[0].shape[0]
    L = np.empty((Qb.shape[0], m * ks), dtype=np.float64)
    for s, (lo, hi) in enumerate(bounds):
        diff = Qb[:, None, lo:hi] - books[s][None, :, :]
        L[:, s * ks : (s + 1) * ks] = (diff**2).sum(axis=2)
    return L


def _adc_fold(m: int, ks: int, lut_col: str = "lut", code_col: str = "code"):
    """The exact ADC Column fold Σ_s lut[s·ks + code_s]: m LUT
    ``element_at``s per row — the re-cut arbiter both PQ paths rank by
    (identical expression ⇒ identical bits, whatever numpy produced)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col(lut_col), s * ks + F.element_at(F.col(code_col), s + 1) + 1
        ),
    )


def _adc_chunks(L, q_index, qids, codes: pd.Series, ids_all):
    """ADC scores of one batch of PQ codes against LUT rows ``L`` (one
    row per query; ``q_index`` their block positions, ``qids`` their
    ids), as :func:`_band_shortlist` chunks: Σ_s L[q, s·ks + code_s] by
    one fancy-index gather + row-sum, self-pairs +inf. Rows are chunked
    so the (|q|, rows, m) gather block stays ~tens of MB per task (the
    matmul chunking discipline)."""
    import numpy as np

    codes_np = np.stack(codes.to_numpy()).astype(np.int64)
    m = codes_np.shape[1]
    offsets = np.arange(m, dtype=np.int64) * (L.shape[1] // m)
    rows_per = max(1, 4_000_000 // max(len(q_index) * m, 1))
    for lo in range(0, len(ids_all), rows_per):
        idx = codes_np[lo : lo + rows_per] + offsets[None, :]
        ids = ids_all[lo : lo + rows_per]
        adc = L[:, idx].sum(axis=2)  # (|q|, rows)
        adc[qids[:, None] == ids[None, :]] = np.inf
        yield q_index, ids, adc


def _cell_luts(Q, centers, n_probe: int, books, bounds):
    """(cell, query rows, residual LUTs) for every cell the rows of ``Q``
    probe (:func:`_ivf_probe`): each probing query's LUT over its
    residual q − centroid(cell) — the IVFADC table, one definition for
    the IVF-PQ scan kernel and its re-cut table."""
    import numpy as np

    probe = _ivf_probe(Q, centers, n_probe)
    for c in np.unique(probe):
        q_loc = np.flatnonzero((probe == c).any(axis=1))
        yield int(c), q_loc, _pq_lut_matrix(Q[q_loc] - centers[c], books, bounds)


def _adc_recut(
    cands: DataFrame, codes: DataFrame, luts: DataFrame, on, adc,
    shortlist: int, id_col: str, q_id_col: str,
) -> DataFrame:
    """Exact ADC re-cut of numpy-shortlisted (q_id, id) candidates: each
    candidate's code joins its LUT row (on ``on``), the Column fold
    ``adc`` (:func:`_adc_fold`) scores it, and the (adc asc, id asc)
    ``row_number`` keeps ``shortlist`` per query — the same expression
    and contract as the fullprobe plan, over the pruned candidates only.
    This is what makes the shortlist set bit-identical whatever order
    numpy summed in."""
    scored = (
        cands.dropDuplicates([q_id_col, id_col])
        .join(codes, id_col)
        .join(luts, on)
        .filter(F.col(id_col) != F.col(q_id_col))
        .select(q_id_col, id_col, adc.alias("adc"))
    )
    w = W.partitionBy(q_id_col).orderBy(F.col("adc"), F.col(id_col))
    return scored.withColumn("arank", F.row_number().over(w)).filter(
        F.col("arank") <= shortlist
    )


def pq_build(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """BUILD-ONCE half of PQ (Jégou et al., PAMI 2011): the embedding
    space splits into ``m`` subspaces, each learns a ``ks``-codeword
    codebook (seeded Spark ML KMeans per subspace — deterministic), and
    every corpus vector compresses to ``m`` small ints in ONE encode
    scan (Arrow-batched argmin matmuls; codes are m bytes — a 64-dim
    float corpus compresses 64×).

    Returns ``(codes, books)``: codes the (id, code array<int>)
    DataFrame (NULL embeddings carry no code — they can never become
    candidates), books the m×ks×sub_dim codebooks as plain nested
    lists (an index ARTIFACT — picklable, JSON-able, persistable via
    :func:`ann_index_write`). Feed both to :func:`pq_query` any number
    of times; :func:`pq_topk` is ``pq_query(*pq_build(...))``
    (pinned by pytest). Production builds once per ingest, not per
    query."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    # one-row action to learn the dimensionality (the subspace split is
    # static Column arithmetic) — a pruned single-vector fetch, same
    # cost class as the pre-flight guard aggregates elsewhere
    probe = corpus.filter(F.col(emb_col).isNotNull()).select(emb_col).first()
    if probe is None:
        raise ValueError("pq_topk: corpus has no non-null embeddings")
    bounds = _pq_bounds(len(probe[0]), m)

    # per-subspace codebooks: seeded KMeans over the sliced columns.
    # The m fits are INDEPENDENT jobs (disjoint column slices, per-slice
    # seeds), so they are submitted from a small driver thread pool and
    # overlap on the cluster (guide §2.6: actions are only sequential
    # because driver code calls them sequentially; concurrent jobs
    # back-fill each other's stage tails). Centroids are bit-identical
    # to the sequential loop — each fit is seeded (42+s) and sees the
    # same input regardless of submission order.
    def _fit_subspace(s: int, lo: int, hi: int) -> np.ndarray:
        train = corpus.filter(F.col(emb_col).isNotNull()).select(
            array_to_vector(F.slice(F.col(emb_col), lo + 1, hi - lo)).alias(
                "features"
            )
        )
        return _centers(
            KMeans(k=ks, seed=42 + s, maxIter=20, featuresCol="features").fit(train)
        )  # ks × (hi-lo)

    from concurrent.futures import ThreadPoolExecutor

    def _fit_all() -> list[np.ndarray]:
        with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
            return list(
                pool.map(
                    lambda args: _fit_subspace(*args),
                    [(s, lo, hi) for s, (lo, hi) in enumerate(bounds)],
                )
            )

    books = _fit_naming_ragged(_fit_all, corpus, id_col, emb_col, "pq_topk")

    def _encode(batch: "pd.Series") -> "pd.Series":
        out: list = [None] * len(batch)
        mask = batch.notna()
        if not mask.any():
            return pd.Series(out)
        M = _stack(batch[mask], "pq_topk")
        codes = np.empty((M.shape[0], m), dtype=np.int32)
        for s, (lo, hi) in enumerate(bounds):
            sub = M[:, lo:hi]
            # argmin |x-c|² = argmin -2xCᵀ + |c|²; ties → lowest code
            d = sub @ books[s].T * -2.0 + (books[s] ** 2).sum(axis=1)
            codes[:, s] = np.argmin(d, axis=1)
        for i, c in zip(np.flatnonzero(mask.to_numpy()), codes):
            out[i] = [int(x) for x in c]
        return pd.Series(out)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            yield _encode(batch)

    # NULL embeddings never become candidates — the same semantics as
    # the Column-expression paths, made explicit here because a NULL
    # adc would otherwise sort FIRST in the ascending shortlist window
    # and displace real candidates
    codes = corpus.select(
        id_col, encode(F.col(emb_col)).alias("code")
    ).filter(F.col("code").isNotNull())
    return codes, [[[float(x) for x in row] for row in b] for b in books]


def pq_query(
    corpus: DataFrame,
    queries: DataFrame,
    codes: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    shortlist: int | None = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    max_query_mb: int = 256,
) -> DataFrame:
    """QUERY-MANY half of PQ: each query scores the prebuilt code table
    by ADC (asymmetric distance: Σ_s lut[s][code_s], the query's
    precomputed distance to every codeword) — then only the
    ``shortlist`` best ADC candidates per query are re-ranked by exact
    cosine for the final top-k. ``shortlist=None`` disables pruning
    (≡ brute force — the fullprobe gate identity).

    Scale shape: ADC scoring is a single zero-shuffle numpy pass over
    the codes (LUT gather + row-sum per partition, then the band
    shortlist :func:`_band_shortlist` that ``topk_matmul`` also runs,
    at code width; no per-pair Column fold, no N·|Q| comparison sort), an exact
    Column-fold ADC re-cut over the surviving
    <= partitions·|Q|·(shortlist+ties) rows reproduces the global
    (adc asc, id asc) shortlist bit-for-bit, and only shortlist×|Q|
    full vectors are touched for cosine re-ranking. At 100 TB this is
    the classic memory-bound ANN layout: codes resident (built once,
    amortized over every query batch), vectors fetched per shortlist
    hit. Recall/latency trades via (m, ks, shortlist); the recall gate
    pins the operating point. LUT closures past ``max_query_mb`` split
    into query blocks (one codes scan per block, candidates unioned);
    ``shortlist=None`` keeps the fold crossJoin (it scores and re-ranks
    ALL pairs by construction — nothing to shortlist).
    """
    import numpy as np
    from pyspark.sql import types as T

    books, bounds = _codebooks(books)
    m, ks = len(books), len(books[0])

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def query_lut(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # flat m×ks table of squared L2 distances from the query's
        # subvector to every codeword — the ADC lookup table
        for batch in it:
            out: list = [None] * len(batch)
            mask = batch.notna()
            if mask.any():
                Q = _stack(batch[mask], "pq_topk")
                luts = _pq_lut_matrix(Q, books, bounds)
                for i, l in zip(np.flatnonzero(mask.to_numpy()), luts):
                    out[i] = [float(x) for x in l]
            yield pd.Series(out)

    # NULL query embeddings carry no LUT — never queries
    q = queries.withColumn("lut", query_lut(F.col(q_emb_col))).filter(
        F.col("lut").isNotNull()
    )
    adc = _adc_fold(m, ks)
    if shortlist is None:
        # fullprobe: every pair is re-ranked anyway (the brute-identity
        # gate), so the ADC fold is only a pass-through — keep the
        # 24 B/pair crossJoin (the row-width lesson, SCALE.md)
        scored = (
            codes.crossJoin(F.broadcast(q.select(q_id_col, "lut")))
            .filter(F.col(id_col) != F.col(q_id_col))
            .select(q_id_col, id_col, adc.alias("adc"))
        )
    else:
        # numpy ADC shortlist: a per-pair Column fold (m LUT
        # element_ats) plus a full per-partition comparison sort over
        # all N_p·|Q| pairs measured 83.7 s steady at the jit-100×
        # decade vs 33.6 s for the EXACT topk_matmul. Here each
        # partition gathers LUT rows by code (one fancy-index + row-sum,
        # no per-pair expression), band-keeps its `shortlist` best per
        # query (_band_shortlist), and emits only (q_id, id) survivors.
        # Any global shortlist member is in its partition's shortlist;
        # the band absorbs numpy-vs-fold ulp drift and keeps boundary
        # ties, so the exact fold re-cut below reproduces the global
        # (adc asc, id asc) shortlist bit-for-bit.
        def kernel(Q, qids):
            L = _pq_lut_matrix(Q, books, bounds)
            q_index = np.arange(len(qids))

            def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    pdf = pdf[pdf["code"].notna()]
                    if not len(pdf):
                        continue
                    chunks = _adc_chunks(
                        L, q_index, qids, pdf["code"], pdf[id_col].to_numpy()
                    )
                    kept = _band_shortlist(chunks, shortlist, len(qids))
                    if kept is not None:
                        qi, bid = kept
                        yield pd.DataFrame({q_id_col: qids[qi], id_col: bid})

            return gen

        cands, _ = _query_fanout(
            codes,
            queries,
            q_id_col,
            q_emb_col,
            _pair_schema(queries, corpus, q_id_col, id_col),
            kernel,
            lambda Q: len(Q) * m * ks * 8,
            max_query_mb,
            "pq_topk",
            "Raise max_query_mb — the LUT closure is m·ks·8 bytes per "
            "query, far below the raw embeddings.",
        )
        scored = _adc_recut(
            cands, codes, F.broadcast(q.select(q_id_col, "lut")), q_id_col,
            adc, shortlist, id_col, q_id_col,
        )
    return _cosine_rerank(
        scored, corpus, queries, k, id_col, emb_col, q_id_col, q_emb_col
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    ks: int = 16,
    shortlist: int | None = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    max_query_mb: int = 256,
) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION with exact
    re-ranking — the one-call composition ``pq_query(*pq_build(...))``;
    see the halves for the train/encode/ADC design. Per-call rebuild is
    the GATE shape; production builds once per ingest (:func:`pq_build`,
    persisted via :func:`ann_index_write`) and queries many."""
    codes, books = pq_build(corpus, m, ks, id_col, emb_col)
    return pq_query(
        corpus, queries, codes, books, k, shortlist,
        id_col, emb_col, q_id_col, q_emb_col, max_query_mb,
    )


def _residualize(
    corpus: DataFrame,
    assignments: DataFrame,
    centers: list[list[float]],
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """(id, cell, resid) rows: each vector minus its coarse centroid —
    the residual space IVF-PQ trains and encodes in (Jégou et al., PAMI
    2011 §IV: quantizing residuals spends the codebook on the
    within-cell detail the coarse quantizer can't express). One
    Arrow-batched UDF over the (id, cell) join; NULL embeddings carry
    no residual and can never be encoded."""
    import numpy as np
    from pyspark.sql import types as T

    C = np.asarray(centers, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def resid_udf(emb: pd.Series, cell: pd.Series) -> pd.Series:
        out: list = [None] * len(emb)
        mask = emb.notna() & cell.notna()
        if mask.any():
            M = _stack(emb[mask], "ivfpq_topk")
            cells = cell[mask].to_numpy().astype(np.int64)
            R = M - C[cells]
            for i, r in zip(np.flatnonzero(mask.to_numpy()), R):
                out[i] = [float(x) for x in r]
        return pd.Series(out)

    return (
        corpus.select(id_col, emb_col)
        .join(assignments, id_col)
        .select(
            id_col,
            "cell",
            resid_udf(F.col(emb_col), F.col("cell")).alias("resid"),
        )
        .filter(F.col("resid").isNotNull())
    )


def ivfpq_build(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """BUILD-ONCE half of IVF-PQ (IVFADC, Jégou et al. PAMI 2011): the
    IVF coarse quantizer partitions the corpus into ``n_cells``
    (:func:`ivf_build`), then PQ codebooks train on the RESIDUALS
    x − centroid(x) and every vector's residual compresses to ``m``
    small ints (:func:`pq_build` over the residual column — the same
    seeded-KMeans halves, composed, not reimplemented).

    Returns ``(index, centers, books)``: index the (id, cell, code)
    DataFrame — ONE row per vector, the cell gating WHICH codes a query
    scans and the code pricing HOW each scanned pair scores — centers
    and books the plain-list training artifacts
    (:func:`ann_index_write` persists all three as kind='ivfpq').

    The residual DataFrame is cached for the duration of the m
    per-subspace KMeans fits and released before return. The returned
    index is LAZY: a downstream action re-derives the residual join +
    encode once per plan REFERENCE — :func:`ivfpq_query` references it
    in every block's scan kernel plus the re-cut join, so a B-block
    per-call query pays the encode pipeline B+1 times (measured at the
    jit-100× decade: per-call 186 s against build 85 s + staged query
    11 s). Production persists the index per INGEST
    (:func:`ann_index_write`, or ``.persist()`` as the streaming sink
    does) and never pays it again."""
    assignments, centers = ivf_build(corpus, n_cells, id_col, emb_col)
    resid = _residualize(corpus, assignments, centers, id_col, emb_col).persist()
    try:
        codes, books = pq_build(resid, m, ks, id_col, "resid")
        index = codes.join(assignments, id_col).select(id_col, "cell", "code")
        return index, centers, books
    finally:
        resid.unpersist(blocking=False)


def ivfpq_query(
    corpus: DataFrame,
    queries: DataFrame,
    index: DataFrame,
    centers: list[list[float]],
    books: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 3,
    shortlist: int | None = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    max_query_mb: int = 256,
) -> DataFrame:
    """QUERY-MANY half of IVF-PQ: each query probes its ``n_probe``
    nearest cells and ADC-scores ONLY those cells' codes — the
    non-exhaustive composition of :func:`ivf_query`'s candidate gating
    and :func:`pq_query`'s numpy ADC shortlist. Per probed (query,
    cell) pair the LUT is built over the residual q − centroid(cell)
    (IVFADC: the code approximates x − centroid(x), so the asymmetric
    distance is |(q−c) − recon|²), distances stay comparable ACROSS a
    query's probed cells, and the scan kernel groups each partition's
    rows by cell so unprobed cells pay nothing — not even the gather.

    Scale shape vs the siblings: :func:`pq_query` gathers LUT rows for
    every (code, query) pair — N·|Q| at code width; here the gather
    bill drops to ~N·|Q|·n_probe/n_cells and the rest of the pipeline
    is unchanged: the per-batch band shortlist (:func:`_band_shortlist`),
    an exact Column-fold ADC re-cut over the
    <= partitions·|Q|·(shortlist+ties) survivors (the fold joins each
    candidate's (q_id, cell) LUT row), and the exact cosine re-rank.
    Kernel closures carry the driver-computed probe/LUT blocks (guarded
    by ``max_query_mb``, split into query blocks past it); the re-cut's
    (q_id, cell, lut) table is generated distributively by the same
    math (see the inline note — a driver-side build would hold all
    blocks at once), broadcast while it fits the budget.

    ``shortlist=None`` disables ADC pruning entirely: every gated
    candidate re-ranks by exact cosine, which IS IVF flat search —
    the call delegates to :func:`ivf_query` over this index's cells
    (with ``n_probe == n_cells`` that reproduces brute force exactly —
    the fullprobe gate identity).

    Operating-point law (measured, SCALE.md knob sweeps): on
    near-dup-heavy corpora the recall limiter is ``shortlist`` vs the
    near-tie band — clones of a true neighbor share its cells, so
    raising ``n_probe`` buys wall, not recall; size ``shortlist``
    above the corpus's near-dup family size (0.596 → 0.998 recall@10
    going 50 → 200 at the jit-100× decade) or dedup first."""
    import numpy as np
    from pyspark.sql import types as T

    if shortlist is None:
        return ivf_query(
            corpus, queries, index.select(id_col, "cell"), centers,
            k, n_probe, id_col, emb_col, q_id_col, q_emb_col,
        )

    books, bounds = _codebooks(books)
    m, ks = len(books), len(books[0])
    C = np.asarray(centers, dtype=np.float64)
    n_probe = min(n_probe, C.shape[0])

    def kernel(Qb, qids_b):
        luts = {
            c: (q_loc, Lc)
            for c, q_loc, Lc in _cell_luts(Qb, C, n_probe, books, bounds)
        }

        def chunks(pdf: pd.DataFrame):
            # rows grouped by cell, so unprobed cells pay nothing — not
            # even the gather
            for cell, grp in pdf.groupby("cell", sort=False):
                if int(cell) in luts:
                    q_loc, Lc = luts[int(cell)]
                    yield from _adc_chunks(
                        Lc, q_loc, qids_b[q_loc], grp["code"], grp[id_col].to_numpy()
                    )

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf[pdf["code"].notna() & pdf["cell"].notna()]
                kept = _band_shortlist(chunks(pdf), shortlist, len(qids_b))
                if kept is not None:
                    qi, bid = kept
                    yield pd.DataFrame({q_id_col: qids_b[qi], id_col: bid})

        return gen

    lut_bytes = n_probe * m * ks * 8  # per query
    cands, n_queries = _query_fanout(
        index,
        queries,
        q_id_col,
        q_emb_col,
        _pair_schema(queries, corpus, q_id_col, id_col),
        kernel,
        lambda Q: len(Q) * lut_bytes,
        max_query_mb,
        "ivfpq_topk",
        "Raise max_query_mb — the per-query closure is n_probe·m·ks·8 "
        "bytes of LUT, far below the raw embeddings.",
    )

    # the re-cut's (q_id, cell, lut) table is computed DISTRIBUTIVELY
    # (pq_query's query_lut device, exploded per probed cell): a
    # driver-side build would hold every block's rows at once — at the
    # 64-block cap ~16 GB of driver heap, exactly the residency the
    # block split exists to avoid. Row-wise dots, the float32→float64
    # widening, and argsort tie order are all bit-reproductions of the
    # driver probe (same _cell_luts, batch-independent math), and any
    # residual drift is caught by the pinned gates, whose stability is
    # asserted across shuffle settings before pinning.
    lut_schema = T.StructType(
        [
            T.StructField(q_id_col, queries.schema[q_id_col].dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("lut", T.ArrayType(T.DoubleType())),
        ]
    )

    def lut_rows_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf[q_emb_col].notna()]
            if not len(pdf):
                continue
            Qb = _stack(pdf[q_emb_col], "ivfpq_topk", pdf[q_id_col])
            qv = pdf[q_id_col].to_numpy()
            out_q: list = []
            out_c: list = []
            out_l: list = []
            for c, q_loc, Lc in _cell_luts(Qb, C, n_probe, books, bounds):
                out_q.extend(qv[q_loc])
                out_c.extend([c] * len(q_loc))
                out_l.extend(list(Lc))
            yield pd.DataFrame(
                {q_id_col: out_q, "cell": out_c, "lut": out_l}
            )

    q_luts = queries.select(q_id_col, q_emb_col).mapInPandas(
        lut_rows_gen, schema=lut_schema
    )
    if n_queries * lut_bytes <= max_query_mb * 1e6:
        q_luts = F.broadcast(q_luts)
    # the (q_id, cell) join fetches the one LUT row the kernel scored
    # each candidate's cell with, so re-cut bits can never drift from it
    scored = _adc_recut(
        cands, index, q_luts, [q_id_col, "cell"],
        _adc_fold(m, ks), shortlist, id_col, q_id_col,
    )
    return _cosine_rerank(
        scored, corpus, queries, k, id_col, emb_col, q_id_col, q_emb_col
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    m: int = 4,
    ks: int = 16,
    n_probe: int = 3,
    shortlist: int | None = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "q_emb",
    max_query_mb: int = 256,
) -> DataFrame:
    """Approximate top-k via IVF-PQ (IVFADC: coarse cells gate WHICH
    residual codes each query ADC-scans) — the one-call composition
    ``ivfpq_query(*ivfpq_build(...))``; see the halves for the
    train/encode/gate/ADC design. Per-call rebuild is the GATE shape;
    production builds once per ingest (:func:`ivfpq_build`, persisted
    via :func:`ann_index_write`) and queries many."""
    index, centers, books = ivfpq_build(corpus, n_cells, m, ks, id_col, emb_col)
    return ivfpq_query(
        corpus, queries, index, centers, books, k, n_probe, shortlist,
        id_col, emb_col, q_id_col, q_emb_col, max_query_mb,
    )


def ann_index_write(
    index_df: DataFrame, params: dict, path: str
) -> None:
    """Persist a staged ANN index (the :func:`ivf_build`/:func:`pq_build`
    output) for cross-process build-once/query-many: the per-vector
    index rows (cell assignments or PQ codes) go to ``path``/rows as
    parquet, the small training artifact (centroids/codebooks + kind)
    to ``path``/params as a one-row JSON — both through the DataFrame
    writers, so the layout works on any Hadoop-visible filesystem, not
    just the driver's local disk."""
    import json as _json

    spark = index_df.sparkSession
    index_df.write.mode("overwrite").parquet(f"{path}/rows")
    spark.createDataFrame(
        [(_json.dumps(params, sort_keys=True),)], "params_json string"
    ).coalesce(1).write.mode("overwrite").text(f"{path}/params")


def ann_index_read(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a persisted ANN index: (rows DataFrame, params dict).
    ``params['kind']`` says which query half consumes it ('ivf' →
    :func:`ivf_query` with params['centers'], 'pq' → :func:`pq_query`
    with params['books'], 'ivfpq' → :func:`ivfpq_query` with both)."""
    import json as _json

    rows = spark.read.parquet(f"{path}/rows")
    blob = spark.read.text(f"{path}/params").collect()
    if len(blob) != 1:
        raise ValueError(
            f"ann_index_read: {path}/params holds {len(blob)} rows, "
            "expected exactly one JSON params row"
        )
    return rows, _json.loads(blob[0][0])
