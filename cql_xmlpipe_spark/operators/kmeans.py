"""Exact Lloyd k-means over an (vec_id, embedding) frame, and SemDeDup on
top of it.

Every stage is deterministic across engines and partitionings, so a
whole Lloyd trajectory stays hash-exact against a SQL oracle:

* **init** — the K lowest-id vectors, components widened to double
  (exact), so every later round folds over double arrays.
* **assign** — the K centroids collapse to ONE broadcast row holding a
  cid-sorted struct array; each vector folds left to right over it with
  strict ``<``, so the lowest cid wins distance ties (the oracle's
  ``ROW_NUMBER() OVER (ORDER BY dist, cid)``). Zero shuffle on the corpus
  side; the per-row ``sqdist`` fold bit-matches DuckDB ``list_reduce``.
* **update** — assign, then each centroid's mean. A cross-partition
  float sum is order-dependent, so components are first quantized to
  1e-6 fixed point via the floor(x*1e6+0.5) half-up trick (IEEE
  single-rounded, bit-identical cross-engine); the integer sums are
  exact and order-free, and the final /1e6 division is one IEEE op. The
  only shuffle is the (cluster, dim) aggregate of int64 partials with
  map-side combine: K×D partial rows per task, independent of corpus
  size — the pattern MLlib's KMeans uses, expressed declaratively.
* **lloyd** — :data:`ROUNDS` updates from the init. The K-row centroid
  table is ``localCheckpoint``ed each round so lineage stays flat
  instead of nesting broadcast subqueries round after round (the device
  of the connected-components loop in ``operators/dedup.py``). Cost is
  one corpus pass per round.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cql_xmlpipe_spark.functions.vectors import norm, sqdist
from cql_xmlpipe_spark.operators.dedup import Staging

#: centroid updates before the final assignment
ROUNDS = 2


def init_centroids(e: DataFrame, k: int) -> DataFrame:
    """(cid, cemb): the K lowest-id vectors as the initial centroids,
    whatever the ids start at."""
    return e.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("cemb"),
    )


def assign(e: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cluster_id, embedding): each vector's nearest centroid by
    the broadcast argmin fold; lowest cid on distance ties."""
    cents = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cemb"))).alias("cents")
    )
    scored = e.crossJoin(F.broadcast(cents)).withColumn(
        "cands",
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                sqdist(F.col("embedding"), c["cemb"]).alias("dist"),
                c["cid"].alias("cid"),
            ),
        ),
    )
    init = F.struct(
        F.lit(float("inf")).alias("dist"), F.lit(-1).cast("long").alias("cid")
    )
    return scored.select(
        "vec_id",
        F.aggregate(
            F.col("cands"),
            init,
            lambda acc, d: F.when(d["dist"] < acc["dist"], d).otherwise(acc),
        )["cid"].alias("cluster_id"),
        "embedding",
    )


def update(e: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd round: (cluster_id, dim, new_centroid, n_members), the
    mean a 1e-6 fixed-point integer sum divided once in double."""
    comp = assign(e, cent).select(
        "cluster_id", F.posexplode("embedding").alias("dim", "x")
    ).withColumn(
        "q", F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )
    return comp.groupBy("cluster_id", "dim").agg(
        (F.sum("q").cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
            "new_centroid"
        ),
        F.count(F.lit(1)).alias("n_members"),
    )


def to_centroids(upd: DataFrame) -> DataFrame:
    """Reshape an :func:`update` result into (cid, cemb) rows, components
    ordered by dim. A cluster that lost every member drops out."""
    return upd.groupBy(F.col("cluster_id").alias("cid")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "new_centroid"))),
            lambda s: s["new_centroid"],
        ).alias("cemb")
    )


def lloyd(e: DataFrame, k: int) -> DataFrame:
    """(cid, cemb) after :data:`ROUNDS` rounds from the K-lowest-id init;
    each round's centroid table is checkpointed (one eager job). The
    result owns the last table; release it with
    :func:`~cql_xmlpipe_spark.operators.dedup.unpersist_intermediates`."""
    with Staging() as st:
        cent = init_centroids(e, k)
        for i in range(ROUNDS):
            cent = st.checkpoint(
                to_centroids(update(e, cent)), supersedes=cent if i else None
            )
        return st.own(cent)


def semdedup(e: DataFrame, n_clusters: int, tau: float) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over an (vec_id, embedding) frame:
    cluster with :func:`lloyd` at K = ``n_clusters``, assign, then within
    each cluster prune every vector whose cosine to a LOWER-id member is
    ≥ ``tau`` (keep-first). Output: (vec_id, cluster_id, is_pruned,
    kept_by). At the paper's operating point K grows with the corpus, so
    cluster size and hence the per-cluster pair bill stay constant."""
    # the input frame is scanned once per Lloyd round plus once for the
    # final assignment — pin it so a derived input (the planted
    # union, a filtered corpus) is computed once, not per scan
    with Staging() as st:
        e = st.pin(e)
        asg = st.pin(assign(e, st.adopt(lloyd(e, n_clusters))))
        # per-vector norms are computed ONCE here, not per pair — and in
        # Spark (the left-to-right fold that bit-matches the oracle), so the
        # numpy stage below divides the exact same per-vector doubles
        el = asg.withColumn("nrm", norm(F.col("embedding"))).filter(F.col("nrm") > 0)
        # Within-cluster pair stage as ONE Arrow-batched numpy block per
        # cluster. A salted self-join of the member table shipped every
        # member 9× (8 salt copies + probe side) through an exchange and
        # evaluated an interpreted 64-term Column fold per candidate pair
        # (an unrolled expression measured no better — the win is leaving
        # Column expressions entirely). Here each cluster crosses the Arrow
        # boundary once as (id, emb, nrm) and a single float64 matmul
        # scores all pairs. Decision-exact, measured: numpy's pairwise dot
        # summation and the fold differ only in addition order (~1e-16
        # relative); the smallest |cos − τ| margin over ALL within-cluster
        # pairs is 0.05 at every SF (planted twins sit at ≈1.0, unrelated
        # pairs ≤0.9), and the output matched the fold row-for-row at
        # sf0.001/0.01/0.1.
        # kept_by = min qualifying lower id: ids are sorted ascending, so
        # the FIRST qualifying row per column is the minimum — argmax on the
        # boolean mask, no per-pair rows ever materialize.
        # Scale shape: one shuffle of (cluster, id, emb, nrm) — 1× the rows
        # the salted join shuffled 9× — and per-task memory is the cluster's
        # member block plus a column-blocked g×blk cosine tile (blk sized to
        # ~8M doubles), bounded at the paper's K ∝ N operating point where
        # cluster size stays ~constant.

        def _prune_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            g = len(ids)
            if g < 2:
                return pd.DataFrame(
                    {"vec_id": pd.Series(dtype="int64"),
                     "kept_by": pd.Series(dtype="int64")}
                )
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nr = pdf["nrm"].to_numpy(dtype=np.float64)
            row_idx = np.arange(g)
            blk = max(128, min(4096, (8 << 20) // g))
            out_v, out_k = [], []
            for j0 in range(0, g, blk):
                j1 = min(j0 + blk, g)
                cos = (V @ V[j0:j1].T) / np.outer(nr, nr[j0:j1])
                mask = cos >= tau
                # a pair is (lower id, higher id): keep rows strictly above
                # the column's global position only
                mask &= row_idx[:, None] < np.arange(j0, j1)[None, :]
                sel = np.flatnonzero(mask.any(axis=0))
                first = mask.argmax(axis=0)
                out_v.append(ids[j0 + sel])
                out_k.append(ids[first[sel]])
            return pd.DataFrame(
                {"vec_id": np.concatenate(out_v), "kept_by": np.concatenate(out_k)}
            )

        pruned = (
            el.select("cluster_id", "vec_id", "embedding", "nrm")
            .groupBy("cluster_id")
            .applyInPandas(_prune_cluster, "vec_id long, kept_by long")
        )
        out = (
            asg.select("vec_id", "cluster_id")
            .join(pruned, "vec_id", "left")
            .select(
                "vec_id",
                "cluster_id",
                F.col("kept_by").isNotNull().alias("is_pruned"),
                "kept_by",
            )
        )
        return st.own(out)
