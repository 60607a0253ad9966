"""Similarity-search front-end — CLI reachability for the embedding
retrieval family, mirroring ``dedup_cli``/``curation_cli``'s contract
shape:

    python -m cql_xmlpipe_spark.similarity_cli --contract topk \
        --data-dir /root/testdata/sf0.01 --k 10 --queries-mod 97

Contracts (all over ``<data-dir>/embeddings.parquet``; the query set is
every ``--queries-mod``-th vector, or an external parquet of
(q_id, q_emb) via ``--query-parquet``):

* ``topk``   — exact cosine top-k. ``--strategy`` {auto, brute,
               matmul}: auto rides the brute window plan while the
               N·|Q| bill is small and swaps to the shortlist+re-rank
               ``topk_matmul`` past it (bit-identical output either
               way — SCALE.md measured 594 s vs 33.6 s at the 100×
               decade).
* ``radius`` — every neighbor within cosine >= ``--threshold``;
               ``--strategy`` {auto, broadcast, matmul, banded} maps
               straight onto ``radius_search(candidates=...)`` (auto
               is EXACT-only: broadcast → matmul on the pair bill;
               banded is an explicit approximate opt-in and accepts
               ``--n-bands``/``--band-bits``; ``--max-query-mb`` sets
               the matmul closure budget past which exact query
               blocks kick in).
* ``ann``    — approximate top-k via ``--algo`` {lsh, ivf, pq, ivfpq}
               (``--n-cells``/``--n-probe``/``--m``/``--ks``/
               ``--shortlist`` tune the quantizers). With
               ``--index-dir`` the index is LOADED, not retrained.
* ``ann-build`` — train + encode ONCE and persist the index artifact
               to ``--index-dir`` (ivf: cell assignments + centroids;
               pq: codes + codebooks; ivfpq: (cell, code) rows +
               centroids + codebooks) — the build-once/query-many
               production shape; subsequent ``ann --index-dir`` runs
               skip training entirely.
* ``recall`` — per-query recall@k of ``--algo`` against the exact
               top-k, computed live — the retrieval health check.

``--out DIR`` writes parquet; otherwise the first ``--show`` rows print
as JSON lines. Refusals (exit 2) for out-of-domain parameters happen
before any Spark work, the house pre-flight discipline.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="similarity",
        description="Run an embedding similarity-search contract over a "
        "parquet corpus.",
    )
    p.add_argument(
        "--contract", required=True,
        choices=["topk", "radius", "ann", "ann-build", "recall"],
    )
    p.add_argument("--data-dir", required=True, help="directory of embeddings.parquet")
    p.add_argument(
        "--queries-mod", type=int, default=97,
        help="query set = every Nth vector (vec_id %% N == 0); ignored "
        "with --query-parquet",
    )
    p.add_argument(
        "--query-parquet", default=None,
        help="external query set: parquet with columns (q_id, q_emb)",
    )
    p.add_argument("--k", type=int, default=10, help="top-k size (topk/ann/recall)")
    p.add_argument(
        "--threshold", type=float, default=0.9,
        help="radius only: cosine floor (in [-1, 1])",
    )
    p.add_argument(
        "--strategy", default="auto",
        choices=["auto", "brute", "broadcast", "matmul", "banded"],
        help="topk: auto|brute|matmul; radius: auto|broadcast|matmul|banded",
    )
    p.add_argument("--algo", default="lsh",
                   choices=["lsh", "ivf", "pq", "ivfpq"],
                   help="ann/recall only")
    p.add_argument("--n-bands", type=int, default=None, help="radius banded geometry")
    p.add_argument("--band-bits", type=int, default=None, help="radius banded geometry")
    p.add_argument(
        "--max-query-mb", type=int, default=256,
        help="radius matmul/auto: per-task query-matrix closure budget; "
        "|Q| past it splits into query blocks (exact, one corpus scan "
        "per block)",
    )
    p.add_argument(
        "--index-dir", default=None,
        help="staged ANN index directory: ann-build WRITES it (train + "
        "encode once), ann READS it (skip retraining — build-once/"
        "query-many across processes)",
    )
    p.add_argument("--n-cells", type=int, default=16, help="ivf: coarse cells")
    p.add_argument("--n-probe", type=int, default=3, help="ivf: probed cells/query")
    p.add_argument("--m", type=int, default=4, help="pq: subspaces")
    p.add_argument("--ks", type=int, default=16, help="pq: codewords/subspace")
    p.add_argument("--shortlist", type=int, default=50,
                   help="pq: ADC candidates re-ranked per query")
    p.add_argument("--out", default=None, help="write result parquet here")
    p.add_argument("--show", type=int, default=20,
                   help="without --out: print this many rows as JSON lines")
    return p


def _refuse(msg: str) -> int:
    print(f"refused: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.k <= 0:
        return _refuse(f"--k must be positive, got {args.k}")
    if args.queries_mod <= 0 and not args.query_parquet:
        return _refuse(f"--queries-mod must be positive, got {args.queries_mod}")
    if args.contract == "radius" and not (-1.0 <= args.threshold <= 1.0):
        return _refuse(f"--threshold must be in [-1, 1], got {args.threshold}")
    if args.contract == "topk" and args.strategy not in ("auto", "brute", "matmul"):
        return _refuse(f"--strategy {args.strategy} is not a topk strategy "
                       "(auto | brute | matmul)")
    if args.contract == "radius" and args.strategy == "brute":
        return _refuse("--strategy brute is the topk name; radius calls it "
                       "broadcast (auto | broadcast | matmul | banded)")
    if args.contract == "ann-build":
        if not args.index_dir:
            return _refuse("--contract ann-build requires --index-dir")
        if args.algo not in ("ivf", "pq", "ivfpq"):
            return _refuse(f"--algo {args.algo} has no trainable index "
                           "(ivf | pq | ivfpq; lsh is stateless)")

    from pyspark.sql import functions as F

    from cql_xmlpipe_spark.operators.similarity import (
        ann_index_read,
        ann_index_write,
        brute_bill_fits,
        brute_force_topk,
        ivf_build,
        ivf_query,
        ivf_topk,
        ivfpq_build,
        ivfpq_query,
        ivfpq_topk,
        lsh_topk,
        pq_build,
        pq_query,
        pq_topk,
        radius_search,
        topk_matmul,
    )
    from cql_xmlpipe_spark.session import get_spark
    from cql_xmlpipe_spark.sources.registry import load_table

    spark = get_spark("similarity-cli")
    e = load_table(spark, "embeddings", args.data_dir)
    if args.query_parquet:
        q = spark.read.parquet(args.query_parquet).select("q_id", "q_emb")
    else:
        q = e.filter(F.col("vec_id") % args.queries_mod == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )

    if args.contract == "topk":
        strategy = args.strategy
        if strategy == "auto":
            strategy = "brute" if brute_bill_fits(e, q) else "matmul"
        out = (brute_force_topk if strategy == "brute" else topk_matmul)(
            e, q, k=args.k
        )
    elif args.contract == "radius":
        out = radius_search(
            e, q, threshold=args.threshold, candidates=args.strategy,
            n_bands=args.n_bands, band_bits=args.band_bits,
            max_query_mb=args.max_query_mb,
        )
    elif args.contract == "ann-build":
        if args.algo == "ivf":
            rows, centers = ivf_build(e, n_cells=args.n_cells)
            params = {"kind": "ivf", "n_probe": args.n_probe, "centers": centers}
        elif args.algo == "ivfpq":
            rows, centers, books = ivfpq_build(e, n_cells=args.n_cells,
                                               m=args.m, ks=args.ks)
            params = {"kind": "ivfpq", "n_probe": args.n_probe,
                      "shortlist": args.shortlist, "centers": centers,
                      "books": books}
        else:
            rows, books = pq_build(e, m=args.m, ks=args.ks)
            params = {"kind": "pq", "shortlist": args.shortlist, "books": books}
        ann_index_write(rows, params, args.index_dir)
        print(f"built {args.algo} index at {args.index_dir}")
        return 0
    elif args.contract == "ann":
        if args.index_dir:
            rows, params = ann_index_read(spark, args.index_dir)
            if params["kind"] == "ivf":
                out = ivf_query(
                    e, q, rows, params["centers"], k=args.k,
                    n_probe=params.get("n_probe", args.n_probe),
                )
            elif params["kind"] == "pq":
                out = pq_query(
                    e, q, rows, params["books"], k=args.k,
                    shortlist=params.get("shortlist", args.shortlist),
                )
            elif params["kind"] == "ivfpq":
                out = ivfpq_query(
                    e, q, rows, params["centers"], params["books"], k=args.k,
                    n_probe=params.get("n_probe", args.n_probe),
                    shortlist=params.get("shortlist", args.shortlist),
                )
            else:
                return _refuse(
                    f"index at {args.index_dir} has unknown kind "
                    f"{params.get('kind')!r}"
                )
        elif args.algo == "ivf":
            out = ivf_topk(e, q, k=args.k, n_cells=args.n_cells, n_probe=args.n_probe)
        elif args.algo == "pq":
            out = pq_topk(e, q, k=args.k, m=args.m, ks=args.ks,
                          shortlist=args.shortlist)
        elif args.algo == "ivfpq":
            out = ivfpq_topk(e, q, k=args.k, n_cells=args.n_cells,
                             n_probe=args.n_probe, m=args.m, ks=args.ks,
                             shortlist=args.shortlist)
        else:
            out = lsh_topk(e, q, k=args.k)
    else:  # recall
        if args.algo == "ivf":
            approx = ivf_topk(e, q, k=args.k, n_cells=args.n_cells,
                              n_probe=args.n_probe)
        elif args.algo == "pq":
            approx = pq_topk(e, q, k=args.k, m=args.m, ks=args.ks,
                             shortlist=args.shortlist)
        elif args.algo == "ivfpq":
            approx = ivfpq_topk(e, q, k=args.k, n_cells=args.n_cells,
                                n_probe=args.n_probe, m=args.m, ks=args.ks,
                                shortlist=args.shortlist)
        else:
            approx = lsh_topk(e, q, k=args.k)
        exact = brute_force_topk(e, q, k=args.k)
        hits = (
            approx.select("q_id", "vec_id")
            .join(exact.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        # denominator is the PER-QUERY exact result count, not k: a
        # corpus smaller than k+1 (or with null/zero-norm exclusions)
        # has |exact| < k, and a perfect ANN must read recall 1.0, not
        # |exact|/k — the same n_ex contract as the live radius recall
        # gate (r13 ADVICE)
        n_exact = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ex"))
        out = (
            q.select("q_id")
            .join(hits, "q_id", "left")
            .join(n_exact, "q_id", "left")
            .select(
                "q_id",
                F.when(
                    F.coalesce(F.col("n_ex"), F.lit(0)) > 0,
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                    / F.col("n_ex"),
                )
                .otherwise(F.lit(None))
                .alias("recall"),
            )
        )

    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        for row in out.limit(args.show).collect():
            print(json.dumps(row.asDict(), default=str, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
