"""Dedup CLI: the user-facing layer where the pair-output budget is on
by default (VERDICT r9 #2 — the library guards existed but nothing a
production operator launches ever set them)."""

from __future__ import annotations

import pytest

from cql_xmlpipe_spark.dedup_cli import build_parser, main


@pytest.fixture(scope="module")
def hot_corpus_dir(spark, tmp_path_factory):
    """200-clone hot family: C(200,2) = 19,900 pair rows by contract."""
    out = str(tmp_path_factory.mktemp("hotcorpus"))
    rows = [(i, "the same cloned document text repeated everywhere") for i in range(200)]
    rows += [(1000 + i, f"unique filler document number {i} words") for i in range(10)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{out}/documents.parquet")
    return out


def test_cli_pairs_refuses_over_cap(hot_corpus_dir, capsys):
    rc = main([
        "--contract", "pairs", "--data-dir", hot_corpus_dir,
        "--max-pairs", "1000",
    ])
    assert rc == 3
    err = capsys.readouterr().err
    assert "refused" in err and "minhash_groups_collapsed" in err


def test_cli_env_cap_applies_without_flag(hot_corpus_dir, capsys, monkeypatch):
    """The env knob is the no-flags path: a production launch with no
    --max-pairs still gets the refusal."""
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "1000")
    rc = main(["--contract", "pairs", "--data-dir", hot_corpus_dir])
    assert rc == 3
    assert "19,900" in capsys.readouterr().err


def test_cli_zero_disables_cap(hot_corpus_dir, capsys, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "0")
    rc = main(["--contract", "pairs", "--data-dir", hot_corpus_dir])
    assert rc == 0
    assert "rows=19900" in capsys.readouterr().out


def test_cli_malformed_env_cap_is_usage_error(hot_corpus_dir, capsys, monkeypatch):
    """A malformed SPARK_GRAFT_MAX_PAIRS ('1e9', '') must exit with a
    clean usage message naming the variable, not an uncaught ValueError
    traceback (ADVICE r10)."""
    for bad in ("1e9", ""):
        monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", bad)
        rc = main(["--contract", "pairs", "--data-dir", hot_corpus_dir])
        assert rc == 2
        err = capsys.readouterr().err
        assert "usage error" in err and "SPARK_GRAFT_MAX_PAIRS" in err


def test_cli_groups_contract_is_the_remedy(hot_corpus_dir, capsys, monkeypatch):
    """The refusal's prescribed fix must actually work from the same
    entry point: the roster contract emits ONE row for the hot family
    under the very cap the pair contract refused."""
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "1000")
    rc = main(["--contract", "groups", "--data-dir", hot_corpus_dir])
    assert rc == 0
    assert "rows=1" in capsys.readouterr().out


def test_cli_embedding_pairs_guarded(spark, tmp_path, capsys):
    out = str(tmp_path)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(f"{out}/embeddings.parquet")
    rc = main([
        "--contract", "embedding-pairs", "--data-dir", out,
        "--max-pairs", "1000",
    ])
    assert rc == 3
    assert "embedding_near_dup_groups" in capsys.readouterr().err
    rc = main(["--contract", "embedding-groups", "--data-dir", out])
    assert rc == 0
    assert "rows=1" in capsys.readouterr().out


def test_cli_defaults_table(hot_corpus_dir):
    args = build_parser().parse_args(["--contract", "pairs", "--data-dir", "x"])
    assert args.max_pairs is None  # resolved via default_max_pairs at run time


def test_cli_out_writes_parquet(hot_corpus_dir, tmp_path, spark, monkeypatch):
    """--out writes the result as parquet a downstream job can read."""
    monkeypatch.setenv("SPARK_GRAFT_MAX_PAIRS", "0")
    dest = str(tmp_path / "rosters")
    rc = main(["--contract", "groups", "--data-dir", hot_corpus_dir, "--out", dest])
    assert rc == 0
    back = spark.read.parquet(dest)
    rows = back.collect()
    assert len(rows) == 1 and rows[0]["cluster_size"] == 200


def test_cli_incremental_contract(spark, tmp_path, capsys):
    """Incremental contracts take a second input dir: the batch probes
    the standing corpus, output is cross-set only."""
    fam = "the same near duplicate document text shared by corpus and batch"
    corpus_dir, inc_dir = str(tmp_path / "corpus"), str(tmp_path / "inc")
    spark.createDataFrame(
        [(1, fam), (2, "an unrelated corpus document about something else")],
        "doc_id long, text string",
    ).write.parquet(f"{corpus_dir}/documents.parquet")
    spark.createDataFrame(
        [(100, fam)], "doc_id long, text string"
    ).write.parquet(f"{inc_dir}/documents.parquet")
    rc = main([
        "--contract", "incremental", "--data-dir", corpus_dir,
        "--increment-dir", inc_dir,
    ])
    assert rc == 0
    assert "rows=1" in capsys.readouterr().out
    # missing --increment-dir is a usage error, not a crash
    rc = main(["--contract", "incremental", "--data-dir", corpus_dir])
    assert rc == 2
    assert "--increment-dir" in capsys.readouterr().err


def test_cli_incremental_rosters_contract(spark, tmp_path, capsys):
    """incremental-rosters: standing rosters recomputed from the corpus
    when --rosters-dir is omitted; --emit delta returns only families
    the batch touched or created."""
    fam = "the same near duplicate document text shared by corpus and batch"
    other = "a different corpus family with its own repeated text entirely"
    corpus_dir, inc_dir = str(tmp_path / "corpus"), str(tmp_path / "inc")
    spark.createDataFrame(
        [(1, fam), (2, fam), (3, other), (4, other)],
        "doc_id long, text string",
    ).write.parquet(f"{corpus_dir}/documents.parquet")
    spark.createDataFrame(
        [(100, fam)], "doc_id long, text string"
    ).write.parquet(f"{inc_dir}/documents.parquet")
    rc = main([
        "--contract", "incremental-rosters", "--data-dir", corpus_dir,
        "--increment-dir", inc_dir,
    ])
    assert rc == 0
    assert "rows=2" in capsys.readouterr().out  # {1,2,100} and {3,4}
    rc = main([
        "--contract", "incremental-rosters", "--data-dir", corpus_dir,
        "--increment-dir", inc_dir, "--emit", "delta",
    ])
    assert rc == 0
    assert "rows=1" in capsys.readouterr().out  # only the touched family


def test_cli_embedding_incremental_rosters_contract(spark, tmp_path, capsys):
    """The embedding roster-update contract from the same entry point:
    a batch ×2-twin of each corpus vector merges into its family."""
    rng_vecs = [
        [float((i * 7 + j) % 5 - 2) or 1.0 for j in range(8)] for i in range(4)
    ]
    corpus_dir, inc_dir = str(tmp_path / "corpus"), str(tmp_path / "inc")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng_vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{corpus_dir}/embeddings.parquet")
    spark.createDataFrame(
        [(100 + i, [2.0 * x for x in v]) for i, v in enumerate(rng_vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{inc_dir}/embeddings.parquet")
    rc = main([
        "--contract", "embedding-incremental-rosters", "--data-dir", corpus_dir,
        "--increment-dir", inc_dir, "--emit", "delta",
    ])
    assert rc == 0
    # every corpus vector gains its twin: one changed roster per family
    assert "rows=4" in capsys.readouterr().out


def _stage_stream_files(spark, src_dir, frames):
    """One parquet file per micro-batch, mtime-ordered."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(src_dir, exist_ok=True)
    now = time.time()
    for i, df in enumerate(frames):
        staging = f"{src_dir}/_stage_{i}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dst = f"{src_dir}/batch-{i}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(staging)
        os.utime(dst, (now - 600 + 60 * i, now - 600 + 60 * i))


def test_cli_stream_rosters_contract(spark, tmp_path, capsys):
    """stream-rosters: the streaming roster maintenance is operator-
    reachable (VERDICT r11 #7) — a parquet file stream folds into
    standing rosters under --state with availableNow termination, the
    delta layout and compaction knobs ride the same flags, and
    re-running the command is an idempotent no-op (commit markers)."""
    fam = "the same near duplicate document text shared by corpus and stream"
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, fam), (2, fam), (3, "another corpus family text entirely")],
        "doc_id long, text string",
    ).write.parquet(f"{corpus_dir}/documents.parquet")
    src = str(tmp_path / "stream_src")
    _stage_stream_files(spark, src, [
        spark.createDataFrame([(100, fam)], "doc_id long, text string"),
        spark.createDataFrame(
            [(200, "novel second batch doc")], "doc_id long, text string"
        ),
    ])
    state = str(tmp_path / "state")
    argv = [
        "--contract", "stream-rosters", "--data-dir", corpus_dir,
        "--stream-src", src, "--state", state,
        "--threshold", "0.35", "--snapshot", "delta", "--compact-every", "2",
    ]
    rc = main(argv)
    assert rc == 0
    out = capsys.readouterr().out
    assert "committed versions [0, 1]" in out
    assert "rows=1" in out  # {1, 2, 100} — batch 1 doc pairs with nothing
    # delta layout on disk: base + per-batch deltas
    from cql_xmlpipe_spark.streaming.dedup import read_rosters

    got = {
        (r["cluster_id"], tuple(r["members"]))
        for r in read_rosters(spark, state).collect()
    }
    assert got == {(1, (1, 2, 100))}
    # idempotent re-run: every batch short-circuits on its commit marker
    rc = main(argv)
    assert rc == 0
    assert "committed versions [0, 1]" in capsys.readouterr().out

    # missing --state / --stream-src are usage errors, not crashes
    assert main(["--contract", "stream-rosters", "--data-dir", corpus_dir]) == 2
    assert "stream-src" in capsys.readouterr().err
    assert main([
        "--contract", "stream-rosters", "--data-dir", corpus_dir,
        "--stream-src", src,
    ]) == 2
    assert "--state" in capsys.readouterr().err


def test_cli_stream_probe_contract(spark, tmp_path, capsys):
    """stream-probe: per-micro-batch cross pairs land as batch=<id>
    partitions under --out; the guard rides --max-pairs and refuses
    with exit code 3 through the streaming wrapper too."""
    fam = "the same near duplicate document text shared by corpus and stream"
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, fam), (2, fam)], "doc_id long, text string"
    ).write.parquet(f"{corpus_dir}/documents.parquet")
    src = str(tmp_path / "probe_src")
    _stage_stream_files(spark, src, [
        spark.createDataFrame([(100, fam)], "doc_id long, text string"),
    ])
    out_dir = str(tmp_path / "pairs_out")
    rc = main([
        "--contract", "stream-probe", "--data-dir", corpus_dir,
        "--stream-src", src, "--out", out_dir, "--threshold", "0.35",
    ])
    assert rc == 0
    assert "1 micro-batch pair partitions" in capsys.readouterr().out
    pairs = {
        (r["inc_id"], r["corpus_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert pairs == {(100, 1), (100, 2)}
    assert main([
        "--contract", "stream-probe", "--data-dir", corpus_dir,
        "--stream-src", src,
    ]) == 2  # missing --out


def test_cli_embedding_stream_rosters_contract(spark, tmp_path, capsys):
    """The embedding streaming twin from the same entry point: ×2-twin
    batches fold into standing vector rosters."""
    vecs = [
        [float((i * 7 + j) % 5 - 2) or 1.0 for j in range(8)] for i in range(3)
    ]
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{corpus_dir}/embeddings.parquet")
    src = str(tmp_path / "emb_src")
    _stage_stream_files(spark, src, [
        spark.createDataFrame(
            [(100 + i, [2.0 * x for x in v]) for i, v in enumerate(vecs[:2])],
            "vec_id long, embedding array<float>",
        ),
        spark.createDataFrame(
            [(102, [2.0 * x for x in vecs[2]])],
            "vec_id long, embedding array<float>",
        ),
    ])
    state = str(tmp_path / "emb_state")
    rc = main([
        "--contract", "embedding-stream-rosters", "--data-dir", corpus_dir,
        "--stream-src", src, "--state", state,
    ])
    assert rc == 0
    assert "rows=3" in capsys.readouterr().out  # one {v, 2v} family per vector
    from cql_xmlpipe_spark.streaming.dedup import read_rosters

    got = {
        (r["cluster_id"], tuple(r["members"]))
        for r in read_rosters(spark, state).collect()
    }
    assert got == {(0, (0, 100)), (1, (1, 101)), (2, (2, 102))}


@pytest.mark.parametrize("offset", [0, 1, 1000])
def test_cli_semdedup_contract(spark, tmp_path, capsys, offset):
    """semdedup verdicts through the CLI: a planted duplicate vector in
    the corpus must be pruned by its lower-id twin; unique directions
    survive; output parquet carries the audit schema. The ids need not
    start at 0: the init seeds the K lowest ids, so every vector lands
    in one of exactly ``--n-clusters`` clusters, never the -1 sentinel."""
    import pandas as pd

    rng = __import__("random").Random(11)
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((offset + i, [float(x) for x in v], i % 3))
    rows.append((offset + 100, rows[0][1], 0))  # exact duplicate of the first
    d = tmp_path / "corpus"
    d.mkdir()
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        d / "embeddings.parquet"
    )
    out = str(tmp_path / "verdicts")
    rc = main([
        "--contract", "semdedup", "--data-dir", str(d),
        "--n-clusters", "4", "--out", out,
    ])
    assert rc == 0 and "wrote" in capsys.readouterr().out
    got = {r["vec_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {offset + i for i in range(40)} | {offset + 100}
    clusters = {r["cluster_id"] for r in got.values()}
    assert len(clusters) == 4 and -1 not in clusters, clusters
    assert got[offset + 100]["is_pruned"] and got[offset + 100]["kept_by"] == offset
    assert not got[offset]["is_pruned"]
    assert sum(1 for r in got.values() if r["is_pruned"]) == 1


def test_cli_containment_guarded_and_runs(hot_corpus_dir, tmp_path, spark, capsys, monkeypatch):
    """The containment contract prices ORDERED clone pairs: 200 clones
    imply 200*199 = 39,800 rows — refused under a 1,000 cap, runs under
    a big one (every clone pair lands at containment 1.0)."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PAIRS", raising=False)
    rc = main([
        "--contract", "containment", "--data-dir", hot_corpus_dir,
        "--max-pairs", "1000",
    ])
    assert rc == 3
    err = capsys.readouterr().err
    assert "ORDERED" in err and "39,800" in err
    dest = str(tmp_path / "containment")
    rc = main([
        "--contract", "containment", "--data-dir", hot_corpus_dir,
        "--max-pairs", "100000", "--out", dest,
    ])
    assert rc == 0
    rows = spark.read.parquet(dest)
    assert rows.count() == 39800
    assert rows.filter("containment = 1.0").count() == 39800
