"""Continuous-ingest near-dedup: the streaming lifecycle of the persisted
MinHash index (llm/dedup.py::save/probe/append_minhash_index).

At 100 TB a corpus is not deduped once — it GROWS, one crawl shard at a
time, and each shard must be deduped against everything already ingested
without re-reading the stored text. This module runs that lifecycle through
Structured Streaming: a file stream admits one shard per micro-batch, and
``foreachBatch`` probes the index (cross-batch pairs), self-joins the batch
(within-batch pairs), then appends the batch as an immutable index segment.
Pair outputs land in epoch-keyed parquet (idempotent under replay — a
retried epoch overwrites its own directory).

Exactness argument (why the streaming run equals the batch full-corpus pair
set): every near-dup pair (i, j) is emitted exactly once — by the self-join
if i and j share a batch, else by the probe of the LATER doc's batch (the
earlier doc is in the index by then; probe-before-append means a batch never
matches itself through the index). The union over epochs is therefore the
exact pair set, independent of shard order, shard count, or micro-batch
boundaries — pinned in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _split_shards(
    df: DataFrame, run_dir: str, n_shards: int, id_col: str, shard_key=None
) -> None:
    """Write ``df`` as ``n_shards`` single-file parquet shards under
    ``{run_dir}/in`` — one parquet FILE per shard so maxFilesPerTrigger=1
    yields one micro-batch per shard (fixtures ship as single files).
    The source is cached across the per-shard filtered writes so the
    split is one underlying scan, not n_shards of them. ``shard_key``
    overrides the default ``id % n_shards`` Column — needed when the
    input ids are themselves a residue class (the erasure lifecycle
    streams evens then odds; ``id % n`` would leave half the shards
    empty)."""
    if shard_key is None:
        shard_key = F.col(id_col) % n_shards
    os.makedirs(os.path.join(run_dir, "in"), exist_ok=True)
    df = df.persist()
    try:
        for k in range(n_shards):
            tmp = os.path.join(run_dir, f"_shard{k}")
            df.filter(shard_key == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            os.rename(
                os.path.join(tmp, part),
                os.path.join(run_dir, "in", f"shard{k}.parquet"),
            )
            shutil.rmtree(tmp)
    finally:
        df.unpersist()


def _run_available_now(
    spark: SparkSession, run_dir: str, ingest, schema
) -> None:
    """Drive ``{run_dir}/in`` through ``foreachBatch(ingest)`` to
    exhaustion (availableNow + one file per trigger)."""
    q = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(os.path.join(run_dir, "in"))
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_ingest_embed_pairs(
    spark: SparkSession,
    vectors: DataFrame,
    run_dir: str,
    n_shards: int = 4,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The EMBEDDING sibling of :func:`stream_ingest_dedup_pairs`: the
    continuous-ingest lifecycle for cosine near-dedup. Each micro-batch of
    new vectors (1) cross-joins the STORED vector segments via exact
    bipartite blocked GEMM (llm/similarity.py::blocked_cosine_cross_pairs
    — O(batch·stored) flops, never O(batch·stored) rows), (2) self-joins
    within the batch (blocked_cosine_pairs), then (3) lands as an
    immutable vector segment later batches read. The same
    exactly-once-per-pair argument applies (cross pairs emit with the
    later vector's batch, self pairs with the shared batch; probe reads
    only EARLIER segments because the batch's own segment is written
    after), so the epoch union is the exact cosine-threshold pair set of
    the whole corpus for any shard count. Ids only (float sims are
    engine-unstable; same contract as llm_embed_neardup)."""
    from ..llm.similarity import blocked_cosine_cross_pairs, blocked_cosine_pairs

    pairs_glob = os.path.join(run_dir, "pairs", "epoch_*")
    done = os.path.join(run_dir, "done")
    if not os.path.exists(done):
        # same RESUME contract as stream_ingest_dedup_pairs: an existing
        # checkpoint resumes the remaining shards; replay safety comes from
        # the own-epoch segment exclusion below + overwrite-mode writes
        if not os.path.exists(os.path.join(run_dir, "ckpt")):
            shutil.rmtree(run_dir, ignore_errors=True)
            _split_shards(
                vectors.select(id_col, vec_col), run_dir, n_shards, id_col
            )
        schema = spark.read.parquet(os.path.join(run_dir, "in")).schema
        vecs_dir = os.path.join(run_dir, "vecs")

        def ingest(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():  # an empty shard must not write an
                return              # unreadable empty partitioned segment
            pairs = blocked_cosine_pairs(
                batch_df, threshold, id_col=id_col, vec_col=vec_col
            ).select("id_a", "id_b")
            stored_epochs = [
                e
                for e in (sorted(os.listdir(vecs_dir)) if os.path.isdir(vecs_dir) else [])
                # a REPLAYED epoch must not see its own segment (it would
                # match itself through the store and double-emit)
                if e != f"epoch_{epoch_id}"
            ]
            if stored_epochs:
                stored = spark.read.parquet(
                    *(os.path.join(vecs_dir, e) for e in stored_epochs)
                )
                cross = blocked_cosine_cross_pairs(
                    batch_df, stored, threshold, id_col=id_col, vec_col=vec_col
                ).select(
                    F.least("id_l", "id_r").alias("id_a"),
                    F.greatest("id_l", "id_r").alias("id_b"),
                )
                pairs = pairs.unionByName(cross)
            pairs.write.mode("overwrite").parquet(
                os.path.join(run_dir, "pairs", f"epoch_{epoch_id}")
            )
            batch_df.write.mode("overwrite").parquet(
                os.path.join(vecs_dir, f"epoch_{epoch_id}")
            )

        _run_available_now(spark, run_dir, ingest, schema)
        open(done, "w").close()
    return spark.read.parquet(pairs_glob)


def stream_ingest_dedup_pairs(
    spark: SparkSession,
    docs: DataFrame,
    run_dir: str,
    n_shards: int = 4,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_segments: int | None = 8,
    shard_key=None,
) -> DataFrame:
    """Drive ``docs`` through the continuous-ingest dedup pipeline in
    ``n_shards`` micro-batches; returns the accumulated near-dup pairs
    (doc_a < doc_b, n_inter) as a batch DataFrame. The run directory is a
    completion-marked cache: a finished run is reused (the pair set is
    content-deterministic), a partial one is discarded and redone.

    ``max_segments`` is the background-merge policy, ON BY DEFAULT
    (VERDICT r8 task 5; pass None to disable — llm/index_maintenance.py::
    maybe_compact, which also triggers on accumulated tombstone deltas):
    each epoch folds the index when a threshold trips, BEFORE probing and
    only when the epoch's own segment is absent — replay-safe (compaction
    never folds a segment the retried epoch still needs to exclude), and
    result-invariant because compaction is a pure file rewrite (and the
    tombstone anti-join equals the physical drop)."""
    from ..llm.dedup import (
        append_minhash_segment,
        minhash_near_dups,
        probe_minhash_index,
        save_minhash_index,
    )

    pairs_glob = os.path.join(run_dir, "pairs", "epoch_*")
    done = os.path.join(run_dir, "done")
    if not os.path.exists(done):
        # RESUME contract: a checkpoint means the shard split completed and
        # some epochs may have committed — rerunning the stream with the
        # same checkpoint processes only the remaining shards (a production
        # ingest never redoes 90 TB because shard 37 crashed). No
        # checkpoint → fresh or torn-before-start run: rebuild from scratch.
        if not os.path.exists(os.path.join(run_dir, "ckpt")):
            shutil.rmtree(run_dir, ignore_errors=True)
            _split_shards(docs, run_dir, n_shards, id_col, shard_key=shard_key)
        schema = spark.read.parquet(os.path.join(run_dir, "in")).schema
        idx = os.path.join(run_dir, "idx")
        base_marker = os.path.join(idx, "base_epoch")

        def ingest(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():  # an empty shard must not write an
                return              # unreadable empty partitioned segment
            pairs = minhash_near_dups(
                batch_df, min_jaccard=min_jaccard, text_col=text_col, id_col=id_col
            ).select("doc_a", "doc_b", F.col("n_inter").cast("long").alias("n_inter"))
            # crash-replay guard: an epoch retried AFTER its index write
            # landed must not match itself through the store — the base
            # epoch re-saves (marker file), later epochs exclude their own
            # segment from the probe
            replayed_base = (
                os.path.exists(base_marker)
                and open(base_marker).read() == str(epoch_id)
            )
            if os.path.exists(os.path.join(idx, "meta.json")) and not replayed_base:
                if max_segments is not None:
                    import json as _json

                    from ..llm.index_maintenance import maybe_compact

                    with open(os.path.join(idx, "meta.json")) as fh:
                        _segs = _json.load(fh).get("segments", [])
                    # never fold a segment this (possibly replayed) epoch
                    # still needs to exclude from its own probe
                    if f"e{epoch_id}" not in _segs:
                        maybe_compact(spark, idx, max_segments)
                cross = probe_minhash_index(
                    spark,
                    idx,
                    batch_df,
                    min_jaccard=min_jaccard,
                    text_col=text_col,
                    id_col=id_col,
                    exclude_segments=(f"e{epoch_id}",),
                ).select(
                    F.least("doc_a", "doc_b").alias("doc_a"),
                    F.greatest("doc_a", "doc_b").alias("doc_b"),
                    F.col("n_inter").cast("long").alias("n_inter"),
                )
                pairs = pairs.unionByName(cross)
                pairs.write.mode("overwrite").parquet(
                    os.path.join(run_dir, "pairs", f"epoch_{epoch_id}")
                )
                try:
                    append_minhash_segment(
                        batch_df, idx, segment=f"e{epoch_id}",
                        text_col=text_col, id_col=id_col,
                    )
                except ValueError as e:
                    # Only the replay case is idempotent; a 'pending
                    # deferred sweep' name collision would silently drop
                    # the batch from the index (ADVICE r8) — re-raise it.
                    if "already exists" not in str(e):
                        raise
            else:
                pairs.write.mode("overwrite").parquet(
                    os.path.join(run_dir, "pairs", f"epoch_{epoch_id}")
                )
                # marker BEFORE save: a crash between save and the marker
                # would make the replayed base epoch take the probe branch
                # and match itself through the base (which exclude_segments
                # cannot exclude). Marker-then-crash-mid-save is safe: the
                # replay sees replayed_base=True (or no meta yet) and lands
                # back here, where save overwrites cleanly.
                os.makedirs(idx, exist_ok=True)
                with open(base_marker, "w") as fh:
                    fh.write(str(epoch_id))
                save_minhash_index(
                    batch_df, idx, text_col=text_col, id_col=id_col
                )

        _run_available_now(spark, run_dir, ingest, schema)
        open(done, "w").close()
    return spark.read.parquet(pairs_glob)


def stream_ingest_dedup_with_erasure(
    spark: SparkSession,
    docs: DataFrame,
    run_dir: str,
    n_shards: int = 4,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_segments: int | None = 8,
) -> DataFrame:
    """The GDPR lifecycle through the CONTINUOUS ingest path: ingest the
    initial corpus (even ids) as a streaming run, then an ERASURE arrives
    (tombstone ``id % 4 == 0`` — half the stored corpus, via
    llm/index_maintenance.py::add_tombstones, no index rewrite), then the
    stream keeps ingesting (odd ids) against the survivor index.

    What this pins, and why it is oracle-exact:

    * pairs emitted BEFORE the erasure are history — an output log is not
      the index; erasure revokes future matchability, it cannot unemit
      (exactly how a production pair log behaves);
    * pairs emitted AFTER the erasure can only touch survivors — the
      tombstone anti-join runs inside every probe;
    * so the final epoch union is exactly: (phase-1 × phase-1) ∪
      (phase-2 × phase-2) ∪ (phase-2 × (phase-1 − deleted)) at the
      jaccard threshold — three id-arithmetic clauses a SQL oracle states
      verbatim (t_stream_ingest_erasure).

    Same completion-marker cache, resume, and replay discipline as
    :func:`stream_ingest_dedup_pairs`; phase-2 segments are named
    ``p2e{epoch}`` and replays exclude their own segment."""
    from ..llm.dedup import (
        append_minhash_segment,
        minhash_near_dups,
        probe_minhash_index,
    )
    from ..llm.index_maintenance import add_tombstones

    pairs_all = os.path.join(run_dir, "pairs_all", "*", "epoch_*")
    done = os.path.join(run_dir, "done")
    if not os.path.exists(done):
        # phase 1: the initial corpus streams in through the standard
        # ingest (its own completion-marked subdir; builds {p1}/idx)
        p1 = os.path.join(run_dir, "p1")
        stream_ingest_dedup_pairs(
            spark,
            docs.filter(F.col(id_col) % 2 == 0),
            p1,
            n_shards=n_shards,
            min_jaccard=min_jaccard,
            id_col=id_col,
            text_col=text_col,
            max_segments=max_segments,
            # the phase holds one residue class — shard on id div 2 so all
            # n_shards shards are non-empty
            shard_key=F.expr(f"({id_col} div 2) % {n_shards}"),
        )
        os.makedirs(os.path.join(run_dir, "pairs_all"), exist_ok=True)
        tgt = os.path.join(run_dir, "pairs_all", "p1")
        if not os.path.exists(tgt):
            # copy-then-rename: a crash mid-copy leaves only the tmp dir,
            # so the retry never trusts a torn phase-1 pair log — and the
            # retry must clear that leftover first (copytree refuses an
            # existing destination; review finding r8)
            shutil.rmtree(tgt + ".tmp", ignore_errors=True)
            shutil.copytree(os.path.join(p1, "pairs"), tgt + ".tmp")
            os.rename(tgt + ".tmp", tgt)
        idx = os.path.join(p1, "idx")

        # the erasure: half the stored corpus is tombstoned, O(deletes)
        import json as _json

        with open(os.path.join(idx, "meta.json")) as fh:
            _meta = _json.load(fh)
        if not _meta.get("tombstones"):
            add_tombstones(
                spark, idx, docs.filter(F.col(id_col) % 4 == 0).select(id_col)
            )

        # phase 2: the stream continues — new docs probe the SURVIVOR index
        p2in = os.path.join(run_dir, "p2")
        if not os.path.exists(os.path.join(p2in, "ckpt")):
            shutil.rmtree(p2in, ignore_errors=True)
            _split_shards(
                docs.filter(F.col(id_col) % 2 == 1).select(id_col, text_col),
                p2in,
                n_shards,
                id_col,
                shard_key=F.expr(f"({id_col} div 2) % {n_shards}"),
            )
        schema = spark.read.parquet(os.path.join(p2in, "in")).schema
        out2 = os.path.join(run_dir, "pairs_all", "p2")

        def ingest(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():  # an empty shard must not write an
                return              # unreadable empty partitioned segment
            pairs = minhash_near_dups(
                batch_df, min_jaccard=min_jaccard, text_col=text_col, id_col=id_col
            ).select("doc_a", "doc_b", F.col("n_inter").cast("long").alias("n_inter"))
            if max_segments is not None:
                import json as _json

                from ..llm.index_maintenance import maybe_compact

                with open(os.path.join(idx, "meta.json")) as fh:
                    _segs = _json.load(fh).get("segments", [])
                # replay safety: never fold a segment this (possibly
                # replayed) epoch still needs to exclude from its probe.
                # Mid-stream compaction here is the production shape the
                # erasure tier must survive: it physically drops the
                # tombstoned rows and retires the deltas, and the pair set
                # is unchanged because the probe's tombstone anti-join
                # equals the physical drop.
                if f"p2e{epoch_id}" not in _segs:
                    maybe_compact(spark, idx, max_segments)
            cross = probe_minhash_index(
                spark,
                idx,
                batch_df,
                min_jaccard=min_jaccard,
                text_col=text_col,
                id_col=id_col,
                exclude_segments=(f"p2e{epoch_id}",),
            ).select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
                F.col("n_inter").cast("long").alias("n_inter"),
            )
            pairs.unionByName(cross).write.mode("overwrite").parquet(
                os.path.join(out2, f"epoch_{epoch_id}")
            )
            try:
                append_minhash_segment(
                    batch_df, idx, segment=f"p2e{epoch_id}",
                    text_col=text_col, id_col=id_col,
                )
            except ValueError as e:
                # Replay-idempotence only; any other ValueError (e.g. a
                # deferred-sweep name collision) must surface (ADVICE r8).
                if "already exists" not in str(e):
                    raise

        _run_available_now(spark, p2in, ingest, schema)
        open(done, "w").close()
    return spark.read.parquet(pairs_all)


def stream_append_table(
    spark: SparkSession,
    src: DataFrame,
    run_dir: str,
    base: str,
    key_col: str,
    n_shards: int = 4,
    id_col: str | None = None,
    max_files: int = 32,
) -> None:
    """Stream ``src`` into a manifest-versioned table
    (sources/manifest_table.py) with EXACTLY-ONCE appends — the streaming
    lakehouse sink: each micro-batch commits through ``append_rows`` with
    an epoch tag recorded in the manifest, so a replayed batch (crash
    between the append commit and the checkpoint commit — the classic
    foreachBatch double-write window) is recognized and skipped. The
    table is born as an empty v=1 snapshot carrying the schema; the same
    completion-marker/checkpoint-resume discipline as the ingest
    pipelines applies (a crashed run resumes remaining shards; it never
    rewrites what an earlier epoch committed).

    Small-files policy ON BY DEFAULT (the same argument as the dedup
    pipelines' maybe_compact): an append sink mints one file per epoch
    forever; when the snapshot exceeds ``max_files`` the batch commits a
    transactional OPTIMIZE right after its append — content-identical by
    construction, so the exactly-once accounting is untouched (a replayed
    batch is still recognized by its epoch; compaction is its own
    commit)."""
    from ..sources.manifest_table import (
        _versions,
        append_rows,
        compact_snapshot,
        publish_snapshot,
        read_manifest,
    )

    done = os.path.join(run_dir, "done")
    if os.path.exists(done):
        return
    if not os.path.exists(os.path.join(run_dir, "ckpt")):
        shutil.rmtree(run_dir, ignore_errors=True)
        _split_shards(src, run_dir, n_shards, id_col or key_col)
    # the shards are src's own rows: its schema needs no inference job
    schema = src.schema
    if not _versions(base):
        publish_snapshot(
            spark.createDataFrame([], schema), base, key_col
        )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_rows(batch_df, base, epoch=f"e{epoch_id}")
        if max_files and len(read_manifest(base)["files"]) > max_files:
            compact_snapshot(spark, base)

    _run_available_now(spark, run_dir, ingest, schema)
    open(done, "w").close()


def stream_upsert_table(
    spark: SparkSession,
    src: DataFrame,
    run_dir: str,
    base: str,
    key_col: str,
    order_cols: list[str],
    n_shards: int = 4,
    id_col: str | None = None,
) -> None:
    """Stream ``src`` as CDC update batches into a manifest-versioned
    table with EXACTLY-ONCE, OUT-OF-ORDER-TOLERANT upserts: each
    micro-batch commits through ``merge_rows(order_cols=...)`` — the
    conditional newer-wins merge — tagged with its epoch, so a replayed
    batch is a recognized no-op and a batch that arrives with OLDER
    versions of a key than the table already holds cannot regress it.
    Because the conditional merge is a join-semilattice on
    (key -> max order tuple), the final table equals the global
    last-writer-wins view for ANY sharding of the source — the shards
    here deliberately interleave event time (split by id residue, not
    time), the delivery order a real distributed CDC feed produces."""
    from ..sources.manifest_table import (
        _versions,
        merge_rows,
        publish_snapshot,
    )

    done = os.path.join(run_dir, "done")
    if os.path.exists(done):
        return
    if not os.path.exists(os.path.join(run_dir, "ckpt")):
        shutil.rmtree(run_dir, ignore_errors=True)
        _split_shards(src, run_dir, n_shards, id_col or key_col)
    # the shards are src's own rows: its schema needs no inference job
    schema = src.schema
    if not _versions(base):
        publish_snapshot(spark.createDataFrame([], schema), base, key_col)

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_rows(
            spark,
            base,
            batch_df,
            order_cols=order_cols,
            epoch=f"e{epoch_id}",
        )

    _run_available_now(spark, run_dir, ingest, schema)
    open(done, "w").close()
