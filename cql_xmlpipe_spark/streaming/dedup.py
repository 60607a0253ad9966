"""Streaming deduplication — exactly-once event streams from at-least-
once sources, plus the ``foreachBatch`` compositions that fold a
document/embedding stream into the batch dedup family's standing state
(the streaming sibling of operators/dedup.py).

``dropDuplicatesWithinWatermark`` keeps one row per key and expires its
key state once the event-time watermark passes — bounded state at
unbounded input, which unwatermarked ``dropDuplicates`` cannot give on a
stream.

The ingest sinks below share one state discipline, designed for streams
that outlive any single process:

* **the corpus is indexed once, extended per batch, COMPACTED every K
  batches** — the standing LSH index is never re-signed, and its
  in-memory plan is always at most (corpus + compacted-base + K batch
  frames) wide no matter how long the stream runs (round 12; the
  round-11 shape unioned one more persisted frame per trigger forever);
* **the roster snapshot (or delta) is the LAST artifact each batch
  writes** — its ``_SUCCESS`` marker is the commit record, so replayed
  batches short-circuit and half-written batches re-run idempotently;
* **``state_path`` and ``checkpointLocation`` are a UNIT**: the replay
  short-circuit keys on the checkpoint's batch_id, so pointing a new
  stream (fresh checkpoint, different source) at an existing state_path
  would silently treat new data as replays — the sinks therefore
  VALIDATE every replayed batch against the stored batch's id set and
  fail loudly on mismatch instead of dropping data;
* **every sink exposes ``close()``** releasing its persisted index
  caches (the caller-owns contract of ``stage_corpus_lsh`` /
  ``stage_corpus_sign_keys``), so a long-lived ingest session can
  retire a sink without leaking executor cache entries.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate events by key within the watermark horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# ---------------------------------------------------------------------------
# shared state-directory plumbing
# ---------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm, fs, hpath = _hadoop_fs(spark, path)
    return fs.exists(hpath)


def _delete_path(spark: SparkSession, path: str) -> None:
    jvm, fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _list_child_ids(
    spark: SparkSession, path: str, prefix: str, require_success: bool = False
) -> list[int]:
    """Sorted numeric suffixes of ``<prefix>=<n>`` children under a
    directory, via the Hadoop FS API so any supported scheme works
    (local, HDFS, object stores); [] when the directory does not exist.
    Non-numeric suffixes (a stray partial copy, a manual ``touch``) are
    SKIPPED with a warning instead of crashing the sink. With
    ``require_success`` only children carrying a ``_SUCCESS`` marker
    count — the committed-write test the snapshot/commit-marker logic
    keys on (a crash mid-write leaves the directory without one, so the
    batch correctly re-runs instead of being skipped as a replay)."""
    jvm, fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith(f"{prefix}="):
            continue
        try:
            n = int(name.split("=", 1)[1])
        except ValueError:
            warnings.warn(
                f"{path}: ignoring non-numeric child {name!r} "
                f"(stray directory in the sink state?)",
                stacklevel=2,
            )
            continue
        if require_success and not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{path}/{name}/_SUCCESS")
        ):
            continue
        out.append(n)
    return sorted(out)


def read_rosters(
    spark: SparkSession, state_path: str, as_of: int | None = None
) -> DataFrame:
    """Reconstruct the roster state a :func:`roster_maintenance_sink` /
    :func:`embedding_roster_maintenance_sink` left under ``state_path``
    — the consumer-side half of the ``snapshot="delta"`` layout, and a
    uniform reader for both layouts:

    * **full layout** (``rosters/v=<id>`` full snapshots, no
      ``rosters_base/``): the newest committed snapshot at or before
      ``as_of`` IS the state — one parquet read;
    * **delta layout** (``rosters_base/upto=<id>`` periodic full bases
      + ``rosters/v=<id>`` per-batch deltas): latest state = newest
      base ⊕ the ordered deltas after it — per cluster_id the row from
      the HIGHEST version wins (one window over base ∪ ≤K deltas; the
      sink's roster compaction bounds K), and tombstone rows
      (``cluster_size = 0``, the retired labels
      ``incremental_roster_update`` emits) drop out of the final state.
      Label resurrection is impossible (labels are min member ids and
      members never leave a family), so last-writer-wins per cluster_id
      is exact, not heuristic.

    ``as_of=N`` reconstructs the state right after batch N committed
    (``None`` = latest). Only ``_SUCCESS``-committed artifacts are
    read, so a crash mid-write never corrupts a reconstruction. At
    warehouse scale the same algebra runs as table upserts (delete
    every delta cluster_id, insert its ``cluster_size >= 2`` rows);
    this reader is the self-contained parquet form of it."""
    rosters_dir = f"{state_path}/rosters"
    base_dir = f"{state_path}/rosters_base"
    bases = [
        n
        for n in _list_child_ids(spark, base_dir, "upto", require_success=True)
        if as_of is None or n <= as_of
    ]
    versions = [
        v
        for v in _list_child_ids(spark, rosters_dir, "v", require_success=True)
        if as_of is None or v <= as_of
    ]
    if not bases:
        # full-snapshot layout: the newest snapshot IS the state
        if not versions:
            raise ValueError(
                f"{state_path}: no committed roster state"
                + (f" at or before batch {as_of}" if as_of is not None else "")
            )
        return spark.read.parquet(f"{rosters_dir}/v={max(versions)}")
    b = max(bases)
    cur = spark.read.parquet(f"{base_dir}/upto={b}").withColumn("_ver", F.lit(b))
    for v in sorted(x for x in versions if x > b):
        cur = cur.unionByName(
            spark.read.parquet(f"{rosters_dir}/v={v}").withColumn("_ver", F.lit(v))
        )
    w = Window.partitionBy("cluster_id").orderBy(F.col("_ver").desc())
    return (
        cur.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("cluster_size") >= 2)
        .select("cluster_id", "cluster_size", "members")
    )


# ---------------------------------------------------------------------------
# per-batch probe sinks (stateless: pairs out, corpus index reused)
# ---------------------------------------------------------------------------


def incremental_probe_sink(
    corpus: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_pairs: int | None = None,
):
    """``foreachBatch`` composition of the incremental-ingest dedup:
    returns a callback for ``writeStream.foreachBatch`` that dedups
    every micro-batch of documents against the STANDING corpus through
    :func:`~cql_xmlpipe_spark.operators.dedup.incremental_probe_pairs`.

    The corpus LSH index (shingle-hash sets + banded buckets — the
    SHARED geometry, :func:`~cql_xmlpipe_spark.operators.dedup.
    stage_corpus_lsh`) is staged ONCE at sink construction and reused by
    every batch, so per-trigger work is signing the batch plus the
    asymmetric (band, bucket) probe join — the corpus is never re-signed
    and no batch×batch or corpus×corpus candidates form. Stream ≡ batch
    by construction: a cross pair's banding fate and Jaccard depend only
    on the two texts, so the union of per-batch probe outputs equals one
    probe of the whole increment (pinned in tests/test_streaming.py).

    Each batch writes ``out_path/batch=<batch_id>`` with overwrite — the
    idempotent at-least-once pattern: a replayed micro-batch rewrites
    its own partition instead of double-appending, and
    ``spark.read.parquet(out_path)`` reassembles the full pair set with
    ``batch`` as a partition column. ``max_pairs`` forwards the
    cross-set two-stage output guard per batch; a refusal raised inside
    ``foreachBatch`` FAILS the streaming query loudly with the remedy in
    the exception (deliberate — silently skipping a hot batch would
    publish an incomplete pair set). The staged corpus caches survive
    the failure, and the checkpoint makes the restart resume AT the
    refused batch once remediated (bigger cap, or exact-dedup staging
    upstream). Note the probe contract: pairs are batch×CORPUS only —
    within-stream (batch×batch, cross-micro-batch) near-dups are out of
    scope here, exactly as in :func:`~cql_xmlpipe_spark.operators.
    dedup.incremental_probe_pairs`; fold ingests into the corpus with
    :func:`roster_maintenance_sink` when standing state must absorb the
    stream.

    The returned callback carries ``close()`` — call it when the ingest
    session retires the sink to release the staged corpus caches (the
    ``stage_corpus_lsh`` caller-owns contract; without it the two
    persisted frames live until the session ends).
    """
    from cql_xmlpipe_spark.operators.dedup import (
        Staging,
        incremental_probe_pairs,
        stage_corpus_lsh,
        unpersist_intermediates,
    )

    pins = Staging()
    staged = tuple(map(pins.pin, stage_corpus_lsh(corpus, text_col, id_col, k)))

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_probe_pairs(
            corpus,
            batch_df,
            text_col,
            id_col,
            threshold,
            k,
            max_pairs=max_pairs,
            corpus_staged=staged,
        )
        pairs.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        unpersist_intermediates(pairs)

    probe_batch.close = pins.release
    probe_batch.staged = staged
    return probe_batch


def embedding_incremental_probe_sink(
    corpus: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    auto_geometry: bool = True,
    max_pairs: int | None = None,
):
    """The EMBEDDING twin of :func:`incremental_probe_sink` (round 12 —
    closes the family asymmetry where only text had a ``foreachBatch``
    probe composition): every micro-batch of vectors is cosine-probed
    against the standing corpus through :func:`~cql_xmlpipe_spark.
    operators.dedup.embedding_incremental_probe_pairs`.

    The one family-specific subtlety is GEOMETRY: sign-LSH banding
    adapts to corpus size and pair candidacy depends on it, so the
    geometry is resolved ONCE at sink construction (explicit params >
    ``n_hint`` > a corpus-side COUNT — :func:`~cql_xmlpipe_spark.
    operators.dedup._resolve_band_geometry`) and the SAME
    (n_bands, band_bits) signs the staged corpus index
    (:func:`~cql_xmlpipe_spark.operators.dedup.stage_corpus_sign_keys`)
    and every batch — a per-batch re-solve against batch sizes would
    silently change which pairs can collide mid-stream. The resolved
    pair is exposed as ``sink.geometry``. Everything else mirrors the
    text sink: batch-only signing per trigger, idempotent
    ``out_path/batch=<id>`` overwrite partitions, guard refusals fail
    the stream loudly, ``close()`` releases the staged index."""
    from cql_xmlpipe_spark.functions.vectors import norm
    from cql_xmlpipe_spark.operators.dedup import (
        Staging,
        _resolve_band_geometry,
        embedding_incremental_probe_pairs,
        stage_corpus_sign_keys,
        unpersist_intermediates,
    )

    eligible = corpus.filter(
        F.col(emb_col).isNotNull() & (norm(F.col(emb_col)) > 0)
    )
    nb, bb = _resolve_band_geometry(
        eligible, threshold, n_bands, band_bits, n_hint, auto_geometry
    )
    pins = Staging()
    staged = pins.pin(stage_corpus_sign_keys(corpus, id_col, emb_col, nb, bb))

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = embedding_incremental_probe_pairs(
            corpus,
            batch_df,
            id_col,
            emb_col,
            threshold,
            nb,
            bb,
            max_pairs=max_pairs,
            corpus_staged=staged,
        )
        pairs.write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")
        unpersist_intermediates(pairs)

    probe_batch.close = pins.release
    probe_batch.staged = staged
    probe_batch.geometry = (nb, bb)
    return probe_batch


# ---------------------------------------------------------------------------
# stateful roster-maintenance sinks (standing rosters folded per batch)
# ---------------------------------------------------------------------------


class _TextRosterFamily:
    """Text-family adapter for the shared roster-maintenance sink: LSH
    staging, standing-roster build and per-ingest update are the batch
    operators, threaded with the sink's staged (sets, buckets) index."""

    n_frames = 2  # (shingle-hash sets, banded buckets)

    def __init__(self, text_col: str, id_col: str, threshold: float, k: int):
        self.text_col, self.id_col = text_col, id_col
        self.threshold, self.k = threshold, k
        self.cols = [id_col, text_col]

    def stage(self, df: DataFrame):
        from cql_xmlpipe_spark.operators.dedup import stage_corpus_lsh

        return stage_corpus_lsh(df, self.text_col, self.id_col, self.k)

    def build_standing(self, df: DataFrame) -> DataFrame:
        from cql_xmlpipe_spark.operators.dedup import minhash_groups_collapsed

        return minhash_groups_collapsed(
            df, self.text_col, self.id_col, self.threshold, self.k
        )

    def update(self, current, batch, standing, staged, emit, max_pairs):
        from cql_xmlpipe_spark.operators.dedup import incremental_roster_update

        return incremental_roster_update(
            current, batch, standing, self.text_col, self.id_col,
            self.threshold, self.k, emit=emit, max_pairs=max_pairs,
            corpus_staged=staged,
        )


class _EmbeddingRosterFamily:
    """Embedding-family adapter: geometry is resolved ONCE here (the
    sink-construction resolve the operator docstrings prescribe) and
    threaded explicitly through staging, the standing build and every
    per-ingest update, so pair candidacy never drifts mid-stream."""

    n_frames = 1  # (banded sign keys,)

    def __init__(
        self, corpus, emb_col, id_col, threshold,
        n_bands, band_bits, n_hint, auto_geometry,
    ):
        from cql_xmlpipe_spark.functions.vectors import norm
        from cql_xmlpipe_spark.operators.dedup import _resolve_band_geometry

        self.emb_col, self.id_col, self.threshold = emb_col, id_col, threshold
        self.cols = [id_col, emb_col]
        eligible = corpus.filter(
            F.col(emb_col).isNotNull() & (norm(F.col(emb_col)) > 0)
        )
        self.n_bands, self.band_bits = _resolve_band_geometry(
            eligible, threshold, n_bands, band_bits, n_hint, auto_geometry
        )

    def stage(self, df: DataFrame):
        from cql_xmlpipe_spark.operators.dedup import stage_corpus_sign_keys

        return (
            stage_corpus_sign_keys(
                df, self.id_col, self.emb_col, self.n_bands, self.band_bits
            ),
        )

    def build_standing(self, df: DataFrame) -> DataFrame:
        from cql_xmlpipe_spark.operators.dedup import embedding_near_dup_groups

        return embedding_near_dup_groups(
            df, self.id_col, self.emb_col, self.threshold,
            self.n_bands, self.band_bits,
        )

    def update(self, current, batch, standing, staged, emit, max_pairs):
        from cql_xmlpipe_spark.operators.dedup import embedding_roster_update

        return embedding_roster_update(
            current, batch, standing, self.id_col, self.emb_col,
            self.threshold, self.n_bands, self.band_bits,
            emit=emit, max_pairs=max_pairs, corpus_staged=staged[0],
        )


def _make_roster_sink(
    adapter,
    corpus: DataFrame,
    state_path: str,
    snapshot: str,
    compact_every: int,
    max_pairs: int | None,
):
    """The family-agnostic roster-maintenance sink behind
    :func:`roster_maintenance_sink` and
    :func:`embedding_roster_maintenance_sink` — see their docstrings
    for the contract; this carries the shared state machine:

    * ``corpus_batches/batch=<id>/`` — each processed batch's rows;
    * ``rosters/v=<id>/`` — the per-batch roster artifact (full
      snapshot or delta, by ``snapshot``); its ``_SUCCESS`` marker is
      the COMMIT RECORD for batch <id>;
    * ``index/upto=<id>/f<i>/`` — the compacted INGEST side of the
      standing LSH index (written every ``compact_every`` batches);
    * ``rosters_base/upto=<id>/`` — delta layout only: periodic full
      roster bases (plus the ``upto=-1`` standing-corpus base), so
      reconstruction reads base + at most ~``compact_every`` deltas.

    In-memory, the standing index is always ≤ (corpus staging +
    compacted base + ``compact_every`` per-batch frames) wide: each
    compaction writes the accumulated ingest index to parquet, re-reads
    it as ONE frame, unpersists the retired frames, and prunes the
    superseded ``index/upto`` snapshot — so driver plan width, executor
    cache entries and restart re-signing cost are all O(compact_every),
    not O(stream lifetime). Two :class:`~cql_xmlpipe_spark.operators.
    dedup.Staging` owners hold the pins: one for the corpus staging, one
    for the current ingest generation (compacted base + pending batch
    frames), which a compaction retires wholesale."""
    if snapshot not in ("full", "delta"):
        raise ValueError(f"snapshot must be 'full' or 'delta', got {snapshot!r}")
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    from cql_xmlpipe_spark.operators.dedup import Staging, unpersist_intermediates

    spark = corpus.sparkSession
    id_col = adapter.cols[0]
    rosters_dir = f"{state_path}/rosters"
    batches_dir = f"{state_path}/corpus_batches"
    base_dir = f"{state_path}/rosters_base"
    index_dir = f"{state_path}/index"

    def _committed() -> list[int]:
        return _list_child_ids(spark, rosters_dir, "v", require_success=True)

    def _valid_index_uptos() -> list[int]:
        return [
            n
            for n in _list_child_ids(spark, index_dir, "upto")
            if all(
                _path_exists(spark, f"{index_dir}/upto={n}/f{i}/_SUCCESS")
                for i in range(adapter.n_frames)
            )
        ]

    # ---- standing rosters over the static corpus, computed once ever
    have_base = (
        -1 in _committed()
        if snapshot == "full"
        else bool(_list_child_ids(spark, base_dir, "upto", require_success=True))
    )
    if not have_base:
        standing0 = adapter.build_standing(corpus)
        target = (
            f"{rosters_dir}/v=-1" if snapshot == "full" else f"{base_dir}/upto=-1"
        )
        standing0.write.mode("overwrite").parquet(target)
        unpersist_intermediates(standing0)

    # ---- standing LSH index: corpus staged once; ingest side resumes
    # from the newest compacted snapshot instead of re-signing history
    corpus_pins = Staging()
    state = {
        "corpus_staged": tuple(map(corpus_pins.pin, adapter.stage(corpus))),
        "ingest_pins": Staging(),  # base + pending: one generation
        "base": None,
        "base_upto": -1,
        "pending": {},  # batch_id -> staged frames since last compaction
        "covered": set(),
    }
    uptos = _valid_index_uptos()
    if uptos:
        n = max(uptos)
        state["base"] = tuple(
            state["ingest_pins"].pin(spark.read.parquet(f"{index_dir}/upto={n}/f{i}"))
            for i in range(adapter.n_frames)
        )
        state["base_upto"] = n
        state["covered"] = {c for c in _committed() if 0 <= c <= n}

    def _extend(batch_ids: list[int]) -> None:
        for b in batch_ids:
            if b in state["covered"]:
                continue
            docs = spark.read.parquet(f"{batches_dir}/batch={b}")
            state["pending"][b] = tuple(
                map(state["ingest_pins"].pin, adapter.stage(docs))
            )
            state["covered"].add(b)

    def _staged_union():
        frames = []
        for i in range(adapter.n_frames):
            f = state["corpus_staged"][i]
            if state["base"] is not None:
                f = f.unionByName(state["base"][i])
            for b in sorted(state["pending"]):
                f = f.unionByName(state["pending"][b][i])
            frames.append(f)
        return tuple(frames)

    def _maybe_compact(batch_id: int) -> None:
        if len(state["pending"]) < compact_every:
            return
        # write the accumulated INGEST index (base + pending — the
        # static corpus is never copied) as one snapshot, swap it in as
        # a single frame per position, release the retired frames
        for i in range(adapter.n_frames):
            f = state["base"][i] if state["base"] is not None else None
            for b in sorted(state["pending"]):
                pf = state["pending"][b][i]
                f = pf if f is None else f.unionByName(pf)
            f.write.mode("overwrite").parquet(f"{index_dir}/upto={batch_id}/f{i}")
        fresh_pins = Staging()
        fresh = tuple(
            fresh_pins.pin(spark.read.parquet(f"{index_dir}/upto={batch_id}/f{i}"))
            for i in range(adapter.n_frames)
        )
        retired = state["ingest_pins"]
        old_upto = state["base_upto"]
        state["base"], state["base_upto"], state["pending"] = fresh, batch_id, {}
        state["ingest_pins"] = fresh_pins
        retired.release()
        if snapshot == "delta":
            # periodic full roster base: reconstruction (and restart)
            # reads this + at most ~compact_every deltas, never the
            # whole delta history
            read_rosters(spark, state_path, as_of=batch_id).write.mode(
                "overwrite"
            ).parquet(f"{base_dir}/upto={batch_id}")
            for m in _list_child_ids(spark, base_dir, "upto"):
                # keep upto=-1 (the static-corpus base: with the full
                # delta history it can reconstruct ANY as_of) and the
                # newest; prune the middle generations
                if -1 < m < batch_id:
                    _delete_path(spark, f"{base_dir}/upto={m}")
        # superseded index snapshots are pure caches over
        # corpus_batches/ — prune all but the one just written
        if 0 <= old_upto < batch_id:
            _delete_path(spark, f"{index_dir}/upto={old_upto}")

    def _validate_replay(batch_df: DataFrame, batch_id: int) -> None:
        stored = spark.read.parquet(f"{batches_dir}/batch={batch_id}").select(
            F.col(id_col)
        )
        fresh = batch_df.select(F.col(id_col))
        diff = (
            stored.exceptAll(fresh)
            .unionByName(fresh.exceptAll(stored))
            .limit(1)
            .count()
        )
        if diff:
            raise RuntimeError(
                f"roster sink at {state_path}: batch {batch_id} is marked "
                "committed but the replayed micro-batch carries a DIFFERENT "
                "row set — this state was committed under another checkpoint "
                "or source. state_path and checkpointLocation must be managed "
                "as a unit: point the new stream at a fresh state_path, or "
                "restore the checkpoint that matches this one."
            )

    def _guard_disjoint(batch_df: DataFrame, ids_frame: DataFrame, batch_id: int):
        # the staged index's id set covers every corpus/ingested row
        # that can enter rosters (shingle-free texts / zero-norm
        # vectors never pair, so their redelivery cannot corrupt state)
        dup = (
            batch_df.select(F.col(id_col))
            .join(ids_frame.select(F.col(id_col)).distinct(), id_col, "left_semi")
            .limit(5)
            .collect()
        )
        if dup:
            ids = sorted(r[id_col] for r in dup)
            raise ValueError(
                f"roster sink at {state_path}: batch {batch_id} redelivers "
                f"already-ingested ids {ids}{' …' if len(ids) == 5 else ''} "
                "outside a Spark replay (an upstream UPDATE, not an "
                "at-least-once redelivery — replays are caught by the commit "
                "marker). The roster update requires disjoint id sets; "
                "dedup or last-write-wins-upsert the feed upstream, or "
                "anti-join the stream against the standing corpus before "
                "this sink."
            )

    def update_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = _committed()
        if batch_id in committed:
            # replayed batch: snapshot already committed — but verify it
            # really is a replay of the SAME data before skipping
            _validate_replay(batch_df, batch_id)
            return
        prior = [v for v in committed if 0 <= v < batch_id]
        _extend(prior)  # restart: re-sign only batches after the compacted index
        staged = _staged_union()
        _guard_disjoint(batch_df, staged[0], batch_id)
        current = corpus.select(*[F.col(c) for c in adapter.cols])
        if prior:
            ingested = spark.read.parquet(
                *[f"{batches_dir}/batch={b}" for b in prior]
            ).select(*[F.col(c) for c in adapter.cols])
            current = current.unionByName(ingested)
        if snapshot == "full":
            standing = spark.read.parquet(f"{rosters_dir}/v={max([-1] + prior)}")
        else:
            standing = read_rosters(spark, state_path, as_of=batch_id - 1)
        # write the batch docs first (re-written identically on replay);
        # the roster artifact below is the commit marker
        batch_df.select(*[F.col(c) for c in adapter.cols]).write.mode(
            "overwrite"
        ).parquet(f"{batches_dir}/batch={batch_id}")
        upd = adapter.update(
            current,
            spark.read.parquet(f"{batches_dir}/batch={batch_id}"),
            standing,
            staged,
            emit="full" if snapshot == "full" else "delta",
            max_pairs=max_pairs,
        )
        upd.write.mode("overwrite").parquet(f"{rosters_dir}/v={batch_id}")
        unpersist_intermediates(upd)
        # fold THIS batch into the standing index for the next trigger
        _extend([batch_id])
        _maybe_compact(batch_id)

    def close() -> None:
        state["pending"], state["base"] = {}, None
        corpus_pins.release()
        state["ingest_pins"].release()

    update_batch.close = close
    update_batch.state = state
    return update_batch


def roster_maintenance_sink(
    corpus: DataFrame,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    max_pairs: int | None = None,
    snapshot: str = "full",
    compact_every: int = 8,
):
    """``foreachBatch`` ROSTER MAINTENANCE — the stateful big sibling of
    :func:`incremental_probe_sink`: every micro-batch of documents is
    folded into STANDING near-dup rosters that persist across batches
    (and across stream restarts), so after the stream drains, the latest
    roster state equals ``minhash_groups_collapsed`` over
    ``corpus ∪ every batch`` — the iterated-ingest composition the batch
    operator pins per step (tests pin the streamed end-state too).

    State layout under ``state_path`` (see :func:`_make_roster_sink`
    for the shared machinery, :func:`read_rosters` for the reader):

    * ``snapshot="full"`` (default): ``rosters/v=<id>`` holds the FULL
      roster set after batch <id> (``v=-1`` = the standing rosters over
      the static corpus, computed once at first construction). Trivial
      replay and audit; O(total rosters) write amplification per
      trigger.
    * ``snapshot="delta"`` (the production layout at standing-state ≫
      batch scale): ``rosters/v=<id>`` holds only the batch's
      NEW/CHANGED rosters plus ``(cluster_id, 0, [])`` tombstones for
      retired labels — O(touched families) bytes per trigger — with
      periodic full bases under ``rosters_base/`` every
      ``compact_every`` batches so reads and restarts reconstruct from
      base + at most ~``compact_every`` deltas
      (:func:`read_rosters`).

    Exactly-once under at-least-once replay: the roster artifact is the
    LAST thing each batch writes and its ``_SUCCESS`` marker is the
    commit record — a replayed batch short-circuits (after VALIDATING
    that the redelivered rows match the stored batch: ``state_path``
    and ``checkpointLocation`` must be managed as a unit, and a new
    stream pointed at an old state_path fails loudly instead of
    silently dropping its early batches as phantom replays), and a
    batch that died half-way re-runs on identical inputs, overwriting
    both artifacts idempotently. A batch that REDELIVERS an
    already-ingested id outside a replay (an upstream update) violates
    the roster update's disjointness precondition and is refused with
    the remediation in the error, never silently double-counted.

    Scale shape: the roster-update math per batch touches only the
    batch and the families its edges hit
    (:func:`~cql_xmlpipe_spark.operators.dedup.incremental_roster_update`),
    and the corpus LSH index is EXTENDED, never rebuilt: the static
    corpus is staged once at construction, each completed batch's
    (sets, buckets) projection is unioned in, and every
    ``compact_every`` batches the accumulated ingest index is COMPACTED
    to one parquet-backed frame — so per-batch signing is O(batch),
    the in-memory plan stays O(compact_every) wide for the life of the
    stream, and a restart re-signs only the batches newer than the
    compacted snapshot (round 12; previously plan width and restart
    cost grew with stream lifetime). ``close()`` on the returned
    callback releases every persisted index frame when the ingest
    session retires the sink.
    """
    return _make_roster_sink(
        _TextRosterFamily(text_col, id_col, threshold, k),
        corpus, state_path, snapshot, compact_every, max_pairs,
    )


def embedding_roster_maintenance_sink(
    corpus: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int | None = None,
    band_bits: int | None = None,
    n_hint: int | None = None,
    auto_geometry: bool = True,
    max_pairs: int | None = None,
    snapshot: str = "full",
    compact_every: int = 8,
):
    """The EMBEDDING twin of :func:`roster_maintenance_sink` (round 12
    — the same composition closure the batch operators got in round
    11): every micro-batch of vectors folds into standing cosine
    near-dup rosters via :func:`~cql_xmlpipe_spark.operators.dedup.
    embedding_roster_update`, with the identical state layout, commit
    markers, replay validation, disjointness guard, index compaction
    and ``snapshot="full"|"delta"`` semantics (see that docstring and
    :func:`read_rosters`).

    Geometry is resolved ONCE at sink construction — explicit
    ``n_bands``/``band_bits`` > ``n_hint`` > a corpus-side COUNT — and
    the SAME pair signs the staged corpus index, every batch index and
    every probe (the exact-composition precondition
    ``embedding_roster_update`` documents: pair candidacy depends on
    the planes, so a mid-stream re-solve would silently change which
    pairs can collide). The standing rosters' geometry is the caller's
    precondition exactly as on the batch operator; at saturation
    cosine the planted tests pin the composition end-to-end."""
    return _make_roster_sink(
        _EmbeddingRosterFamily(
            corpus, emb_col, id_col, threshold,
            n_bands, band_bits, n_hint, auto_geometry,
        ),
        corpus, state_path, snapshot, compact_every, max_pairs,
    )
