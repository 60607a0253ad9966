"""Dedup pipeline front-end — the user-facing entry point where the
pair-contract output guard is ON BY DEFAULT.

    python -m cql_xmlpipe_spark.dedup_cli --contract pairs \
        --data-dir /root/testdata/sf0.01 --out /tmp/pairs

The library operators keep ``max_pairs=None`` (a default cap would burn
a count-style action on every programmatic call), but a command line is
where a production operator launches a corpus-sized job without reading
the signature — so this layer resolves the cap through
:func:`~cql_xmlpipe_spark.operators.dedup.default_max_pairs`
(``SPARK_GRAFT_MAX_PAIRS`` env, default 10**9 rows, ``0`` disables) and
``--max-pairs`` on top. A job whose output is intractable by arithmetic
refuses in seconds with the roster contract named (exit code 3) instead
of dying hours in; the roster contracts themselves (``groups``,
``embedding-groups``) have linear output and take no cap.

Contracts:

* ``pairs``            — MinHash+LSH verified near-dup text pairs
                         (collapsed staging), J >= --threshold
* ``groups``           — text cluster rosters (linear output)
* ``embedding-pairs``  — banded sign-LSH verified cosine pairs
* ``embedding-groups`` — embedding cluster rosters (linear output)
* ``incremental`` / ``embedding-incremental`` — new batch
  (``--increment-dir``) probed against the standing corpus
  (``--data-dir``); batch-side output, no corpus² work per ingest
* ``incremental-rosters`` / ``embedding-incremental-rosters`` —
  standing rosters (``--rosters-dir``, or recomputed from the corpus)
  updated with the batch; ``--emit delta`` returns only new/changed
  families plus ``(cluster_id, 0, [])`` tombstones for retired labels
  (the per-ingest upsert shape: delete every delta cluster_id, insert
  the ``cluster_size >= 2`` rows)
* ``stream-probe`` / ``embedding-stream-probe`` — the STREAMING form of
  the incremental probe: a parquet file stream (``--stream-src``) is
  deduped per micro-batch against the standing corpus
  (``availableNow`` termination; ``--out`` collects one
  ``batch=<id>`` partition per micro-batch)
* ``containment``      — asymmetric shingle-containment pairs (ordered
                         src→tgt, C(src→tgt) >= --threshold, default
                         0.8) — the quote/boilerplate detector; clone
                         families imply g·(g−1) ORDERED rows, so the
                         same output budget guards it
* ``semdedup``         — SemDeDup semantic pruning verdicts
                         (kmeans K = --n-clusters, then within-cluster
                         keep-first cosine pruning at --threshold;
                         linear output, no cap)
* ``stream-rosters`` / ``embedding-stream-rosters`` — the STREAMING
  roster maintenance: each micro-batch folds into standing rosters
  under ``--state`` (``--snapshot delta`` = the per-ingest upsert
  layout with periodic full bases; ``--compact-every`` bounds index
  plan width and restart cost). Replays short-circuit on the commit
  markers, so re-running the same command is idempotent.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dedup",
        description="Run a dedup contract over a parquet corpus; pair "
        "contracts are output-budget-guarded by default.",
    )
    p.add_argument(
        "--contract",
        required=True,
        choices=[
            "pairs", "groups", "containment",
            "embedding-pairs", "embedding-groups",
            "incremental", "embedding-incremental", "incremental-rosters",
            "embedding-incremental-rosters",
            "stream-probe", "embedding-stream-probe",
            "stream-rosters", "embedding-stream-rosters",
            "semdedup",
        ],
    )
    p.add_argument("--data-dir", required=True, help="directory of <table>.parquet")
    p.add_argument(
        "--increment-dir",
        default=None,
        metavar="DIR",
        help="incremental contracts only: directory holding the NEW batch's "
        "<table>.parquet; --data-dir is the standing corpus",
    )
    p.add_argument("--table", default=None, help="table name (default: documents "
                   "for text contracts, embeddings for embedding contracts)")
    p.add_argument("--id-col", default=None, help="default: doc_id / vec_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--emb-col", default="embedding")
    p.add_argument("--threshold", type=float, default=None,
                   help="default: 0.5 (Jaccard) / 0.95 (cosine)")
    p.add_argument("--k", type=int, default=3, help="shingle width (text contracts)")
    p.add_argument(
        "--n-clusters", type=int, default=8,
        help="semdedup only: kmeans cluster count — scale it with the "
        "corpus (K ~ N/500) so the within-cluster pair bill stays flat",
    )
    p.add_argument(
        "--rosters-dir",
        default=None,
        metavar="DIR",
        help="incremental-rosters only: parquet dir holding the STANDING "
        "rosters (cluster_id, cluster_size, members) over --data-dir; "
        "recomputed from the corpus when omitted",
    )
    p.add_argument(
        "--emit",
        choices=["full", "delta"],
        default="full",
        help="incremental-rosters only: full updated roster set, or only "
        "new/changed rosters plus (cluster_id, 0, []) tombstones for "
        "retired labels (the per-ingest upsert shape)",
    )
    p.add_argument(
        "--max-pairs",
        type=int,
        default=None,
        metavar="N",
        help="pair-output cap; default SPARK_GRAFT_MAX_PAIRS or 1e9; 0 disables",
    )
    p.add_argument("--out", default=None, metavar="DIR",
                   help="write result parquet here (default: print row count; "
                   "REQUIRED for stream-probe contracts)")
    p.add_argument(
        "--stream-src",
        default=None,
        metavar="DIR",
        help="stream contracts only: directory of parquet files consumed as "
        "a file stream (one micro-batch per --max-files-per-trigger files)",
    )
    p.add_argument(
        "--state",
        default=None,
        metavar="DIR",
        help="stream-rosters contracts only: roster-maintenance state "
        "directory (rosters/, corpus_batches/, index/ — see "
        "streaming/dedup.py); managed as a unit with --checkpoint",
    )
    p.add_argument(
        "--checkpoint",
        default=None,
        metavar="DIR",
        help="stream contracts only: structured-streaming checkpoint "
        "location (default: <--state or --out>/_checkpoint)",
    )
    p.add_argument(
        "--snapshot",
        choices=["full", "delta"],
        default="full",
        help="stream-rosters only: full roster snapshot per batch, or "
        "delta rows (new/changed + tombstones) with periodic full bases",
    )
    p.add_argument(
        "--compact-every",
        type=int,
        default=8,
        metavar="K",
        help="stream-rosters only: compact the standing ingest index (and, "
        "with --snapshot delta, write a full roster base) every K batches",
    )
    p.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=1,
        metavar="N",
        help="stream contracts only: source files per micro-batch",
    )
    return p


def _run_stream_contract(
    spark, corpus, args, text_contract: bool, id_col: str,
    threshold: float, max_pairs: int | None,
) -> int:
    """Drive a streaming contract: a parquet file stream from
    ``--stream-src``, the matching ``foreachBatch`` sink from
    streaming/dedup.py, ``availableNow`` termination (process every
    file currently present, then stop — the operational shape for
    batched catch-up runs; a resident service would drop the trigger).
    Guard refusals inside ``foreachBatch`` surface as the same exit
    code 3 as the batch contracts; replays of an already-committed
    batch short-circuit, so re-running the command is idempotent."""
    import sys as _sys

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cql_xmlpipe_spark.streaming import dedup as SD

    probe = args.contract.endswith("stream-probe")
    target = args.out if probe else args.state
    value_col = args.text_col if text_contract else args.emb_col
    schema = corpus.select(id_col, value_col).schema
    if probe and text_contract:
        sink = SD.incremental_probe_sink(
            corpus, args.out, args.text_col, id_col, threshold, args.k,
            max_pairs=max_pairs,
        )
    elif probe:
        sink = SD.embedding_incremental_probe_sink(
            corpus, args.out, id_col, args.emb_col, threshold,
            max_pairs=max_pairs,
        )
    elif text_contract:
        sink = SD.roster_maintenance_sink(
            corpus, args.state, args.text_col, id_col, threshold, args.k,
            max_pairs=max_pairs, snapshot=args.snapshot,
            compact_every=args.compact_every,
        )
    else:
        sink = SD.embedding_roster_maintenance_sink(
            corpus, args.state, id_col, args.emb_col, threshold,
            max_pairs=max_pairs, snapshot=args.snapshot,
            compact_every=args.compact_every,
        )
    query = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .parquet(args.stream_src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", args.checkpoint or f"{target}/_checkpoint")
        .start()
    )
    try:
        query.awaitTermination()
    except StreamingQueryException as exc:
        if "PairOutputBudgetExceeded" in str(exc):
            print(f"refused: {exc}", file=_sys.stderr)
            return 3
        raise
    finally:
        sink.close()
    if probe:
        n = len(SD._list_child_ids(spark, args.out, "batch"))
        print(f"wrote {args.out}: {n} micro-batch pair partitions")
    else:
        versions = SD._list_child_ids(
            spark, f"{args.state}/rosters", "v", require_success=True
        )
        rows = SD.read_rosters(spark, args.state).count()
        print(
            f"state {args.state}: committed versions {versions}; "
            f"latest rosters rows={rows}"
        )
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from cql_xmlpipe_spark.operators import dedup as DD
    from cql_xmlpipe_spark.session import get_spark
    from cql_xmlpipe_spark.sources.registry import load_table

    if args.max_pairs is None:
        try:
            max_pairs = DD.default_max_pairs()
        except ValueError as exc:  # malformed SPARK_GRAFT_MAX_PAIRS
            print(f"usage error: {exc}", file=sys.stderr)
            return 2
    else:
        max_pairs = None if args.max_pairs <= 0 else args.max_pairs

    text_contract = args.contract in (
        "pairs", "groups", "containment", "incremental",
        "incremental-rosters", "stream-probe", "stream-rosters",
    )
    incremental = args.contract in (
        "incremental", "embedding-incremental", "incremental-rosters",
        "embedding-incremental-rosters",
    )
    roster_update = args.contract in (
        "incremental-rosters", "embedding-incremental-rosters"
    )
    stream_contract = args.contract in (
        "stream-probe", "embedding-stream-probe",
        "stream-rosters", "embedding-stream-rosters",
    )
    if incremental and not args.increment_dir:
        print("refused: --increment-dir is required for incremental contracts",
              file=sys.stderr)
        return 2
    if stream_contract and not args.stream_src:
        print("refused: --stream-src is required for stream contracts",
              file=sys.stderr)
        return 2
    if args.contract.endswith("stream-probe") and not args.out:
        print("refused: --out is required for stream-probe contracts",
              file=sys.stderr)
        return 2
    if args.contract.endswith("stream-rosters") and not args.state:
        print("refused: --state is required for stream-rosters contracts",
              file=sys.stderr)
        return 2
    table = args.table or ("documents" if text_contract else "embeddings")
    id_col = args.id_col or ("doc_id" if text_contract else "vec_id")
    threshold = args.threshold if args.threshold is not None else (
        0.8 if args.contract == "containment" else 0.5 if text_contract else 0.95
    )

    spark = get_spark("dedup-cli")
    df = load_table(spark, table, args.data_dir)
    if stream_contract:
        return _run_stream_contract(
            spark, df, args, text_contract, id_col, threshold, max_pairs
        )
    try:
        if incremental:
            inc = load_table(spark, table, args.increment_dir)
            if roster_update:
                # recomputed standing rosters (and their pipeline pins)
                # ride the result; a refusal releases them
                with DD.Staging() as st:
                    if args.rosters_dir:
                        rosters = spark.read.parquet(args.rosters_dir)
                    elif text_contract:
                        rosters = st.pin(st.adopt(DD.minhash_groups_collapsed(
                            df, args.text_col, id_col, threshold, args.k
                        )))
                    else:
                        rosters = st.pin(st.adopt(DD.embedding_near_dup_groups(
                            df, id_col, args.emb_col, threshold
                        )))
                    if text_contract:
                        result = DD.incremental_roster_update(
                            df, inc, rosters, args.text_col, id_col, threshold,
                            args.k, emit=args.emit, max_pairs=max_pairs,
                        )
                    else:
                        result = DD.embedding_roster_update(
                            df, inc, rosters, id_col, args.emb_col, threshold,
                            emit=args.emit, max_pairs=max_pairs,
                        )
                    result = st.own(st.adopt(result))
            elif args.contract == "incremental":
                result = DD.incremental_probe_pairs(
                    df, inc, args.text_col, id_col, threshold, args.k,
                    max_pairs=max_pairs,
                )
            else:
                result = DD.embedding_incremental_probe_pairs(
                    df, inc, id_col, args.emb_col, threshold,
                    max_pairs=max_pairs,
                )
        elif args.contract == "pairs":
            result = DD.minhash_lsh_pairs_collapsed(
                df, args.text_col, id_col, threshold, args.k, max_pairs=max_pairs
            )
        elif args.contract == "groups":
            result = DD.minhash_groups_collapsed(
                df, args.text_col, id_col, threshold, args.k
            )
        elif args.contract == "containment":
            result = DD.ngram_containment_pairs(
                df, args.text_col, id_col,
                block_col="lang" if "lang" in df.columns else None,
                threshold=threshold, k=args.k, max_pairs=max_pairs,
            )
        elif args.contract == "semdedup":
            # the SemDeDup operator expects (vec_id, embedding)
            from cql_xmlpipe_spark.operators.kmeans import semdedup
            from pyspark.sql import functions as F

            result = semdedup(
                df.select(
                    F.col(id_col).alias("vec_id"),
                    F.col(args.emb_col).alias("embedding"),
                ),
                args.n_clusters,
                threshold,
            )
        elif args.contract == "embedding-pairs":
            result = DD.embedding_near_dup_pairs(
                df, id_col, args.emb_col, threshold, max_pairs=max_pairs
            )
        else:
            result = DD.embedding_near_dup_groups(
                df, id_col, args.emb_col, threshold
            )
        if args.out:
            result.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            print(f"rows={result.count()}")
        DD.unpersist_intermediates(result)
    except DD.PairOutputBudgetExceeded as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
