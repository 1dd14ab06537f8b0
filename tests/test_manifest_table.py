"""Manifest-versioned table (sources/manifest_table.py): snapshot
isolation, copy-on-write file reuse, bounds-based candidate pruning,
crash-atomic commits, vacuum retention."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from bridge_analytics_template_spark.catalog import load
from bridge_analytics_template_spark.sources.manifest_table import (
    erase_rows,
    publish_snapshot,
    read_manifest,
    read_snapshot,
    vacuum,
)


def _ids(df, col="o_orderkey"):
    return sorted(r[col] for r in df.select(col).collect())


def test_snapshot_isolation_and_erase(spark, sf_dir, tmp_path):
    """erase_rows commits a NEW snapshot with exactly the survivors; the
    pre-erase snapshot stays readable and bit-identical until vacuum."""
    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders")
    v1 = publish_snapshot(o, base, "o_custkey", n_files=8)
    assert v1 == 1
    before = _ids(read_snapshot(spark, base, v1))

    tomb = o.select("o_custkey").distinct().limit(20)
    tomb_keys = {r["o_custkey"] for r in tomb.collect()}
    v2 = erase_rows(spark, base, tomb, "o_custkey")
    assert v2 == 2

    survivors = read_snapshot(spark, base, v2)
    assert survivors.filter(F.col("o_custkey").isin(tomb_keys)).count() == 0
    want = _ids(o.filter(~F.col("o_custkey").isin(tomb_keys)))
    assert _ids(survivors) == want
    # time travel: v1 unchanged
    assert _ids(read_snapshot(spark, base, 1)) == before


def test_cow_file_reuse_and_bounds_pruning(spark, sf_dir, tmp_path):
    """A key-range-local deletion rewrites ONLY the files whose bounds
    cover the tombstones; every other file is referenced verbatim (same
    file name) in the new manifest — the 0.1%-of-files rewrite a 100 TB
    deletion must be."""
    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders")
    publish_snapshot(o, base, "o_custkey", n_files=8)
    m1 = read_manifest(base)
    assert len(m1["files"]) >= 6  # range-clustered into several files

    lo = min(e["lo"] for e in m1["files"])
    # tombstones confined to the lowest-bounds file's range
    target = min(m1["files"], key=lambda e: e["lo"])
    tomb = o.filter(
        (F.col("o_custkey") >= lo) & (F.col("o_custkey") <= target["hi"])
    ).select("o_custkey").distinct().limit(5)
    v2 = erase_rows(spark, base, tomb, "o_custkey")
    m2 = read_manifest(base, v2)

    f1, f2 = {e["file"] for e in m1["files"]}, {e["file"] for e in m2["files"]}
    reused = f1 & f2
    rewritten = f1 - f2
    # bounds pruning: files whose envelope excludes the tombstone range
    # were never touched — at least the top half of the range survives
    assert rewritten, "no file was rewritten"
    assert len(reused) >= len(m1["files"]) - 3, (reused, rewritten)
    # row accounting: manifest row counts match the survivor read
    assert m2["rows"] == read_snapshot(spark, base, v2).count()


def test_erase_no_match_is_noop(spark, sf_dir, tmp_path):
    """A tombstone set hitting nothing (out-of-range keys) returns the
    CURRENT version — re-issuing an executed deletion request does not
    mint snapshots."""
    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders").limit(100)
    v1 = publish_snapshot(o, base, "o_custkey")
    ghost = spark.range(1).select((F.lit(10**15)).alias("o_custkey"))
    assert erase_rows(spark, base, ghost, "o_custkey") == v1
    assert read_manifest(base)["files"] == read_manifest(base, v1)["files"]


def test_erase_crash_before_commit_leaves_old_snapshot(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Injected crash at the commit point: the manifest replace never
    happens, the old snapshot is untouched, the staged rewrite is orphan
    garbage vacuum collects, and a retry commits cleanly."""
    import bridge_analytics_template_spark.sources.manifest_table as mt

    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders").limit(500)
    v1 = publish_snapshot(o, base, "o_custkey", n_files=4)
    before = _ids(read_snapshot(spark, base))
    tomb = o.select("o_custkey").distinct().limit(10)

    real_commit = mt._commit_manifest

    def boom(*a, **k):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(mt, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        erase_rows(spark, base, tomb, "o_custkey")
    monkeypatch.setattr(mt, "_commit_manifest", real_commit)

    # old snapshot fully intact; orphan parts invisible to reads
    assert read_manifest(base)["files"] == read_manifest(base, v1)["files"]
    assert _ids(read_snapshot(spark, base)) == before

    v2 = erase_rows(spark, base, tomb, "o_custkey")
    assert v2 == v1 + 1
    survivors = read_snapshot(spark, base, v2)
    tomb_keys = {r["o_custkey"] for r in tomb.collect()}
    assert survivors.filter(F.col("o_custkey").isin(tomb_keys)).count() == 0
    # vacuum removes the crash's orphans + v1's exclusive files
    removed = vacuum(base, keep_versions=1)
    assert removed
    on_disk = set(os.listdir(os.path.join(base, "files")))
    assert on_disk == {e["file"] for e in read_manifest(base, v2)["files"]}


def test_vacuum_retention(spark, sf_dir, tmp_path):
    """vacuum(keep_versions=1) drops older manifests and their exclusive
    files; the kept snapshot reads identically; the dropped one raises."""
    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders").limit(1000)
    publish_snapshot(o, base, "o_custkey", n_files=4)
    tomb = o.select("o_custkey").distinct().limit(50)
    v2 = erase_rows(spark, base, tomb, "o_custkey")
    keep = _ids(read_snapshot(spark, base, v2))

    vacuum(base, keep_versions=1)
    assert _ids(read_snapshot(spark, base)) == keep
    with pytest.raises(FileNotFoundError):
        read_manifest(base, 1)
    # every surviving on-disk file is referenced by the kept manifest
    on_disk = set(os.listdir(os.path.join(base, "files")))
    assert on_disk == {e["file"] for e in read_manifest(base, v2)["files"]}


def test_erase_empties_a_file_entirely(spark, tmp_path):
    """Deleting every row of one file drops its entry (no empty parquet in
    the manifest); other files unaffected; empty-table read keeps schema."""
    base = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    publish_snapshot(df, base, "k", n_files=4)
    m1 = read_manifest(base)
    target = m1["files"][0]
    tomb = spark.range(int(target["lo"]), int(target["hi"]) + 1).select(
        F.col("id").alias("k")
    )
    v2 = erase_rows(spark, base, tomb, "k")
    m2 = read_manifest(base, v2)
    assert target["file"] not in {e["file"] for e in m2["files"]}
    assert m2["rows"] == 100 - target["rows"]

    # erase everything -> empty snapshot, schema preserved
    v3 = erase_rows(spark, base, df.select("k"), "k")
    empty = read_snapshot(spark, base, v3)
    assert empty.count() == 0
    assert empty.schema.fieldNames() == ["k", "v"]


def test_append_epoch_idempotent(spark, tmp_path):
    """append_rows with an already-recorded epoch tag is a no-op — the
    exactly-once guard for the foreachBatch crash-between-commits window."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
    )

    base = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    publish_snapshot(df, base, "k")
    batch = spark.range(50, 80).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    v2 = append_rows(batch, base, epoch="e7")
    assert read_snapshot(spark, base).count() == 80
    # replayed epoch: same tag -> no new version, no double rows
    assert append_rows(batch, base, epoch="e7") == v2
    assert read_snapshot(spark, base).count() == 80
    # the epoch registry survives an erase commit in between: the replayed
    # append is still recognized (returns the erase's version, no new rows)
    v3 = erase_rows(spark, base, spark.range(5).select(F.col("id").alias("k")), "k")
    assert append_rows(batch, base, epoch="e7") == v3
    assert read_snapshot(spark, base).count() == 75


def test_stream_append_table_exactly_once_and_resume(spark, sf_dir, tmp_path):
    """The streaming lakehouse sink: final table == source exactly; a
    second run over the same completed run_dir (resume path) changes
    nothing; a forced re-drive with the same checkpoint replays no epoch."""
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_append_table,
    )

    run = str(tmp_path / "run")
    base = str(tmp_path / "run" / "table")
    e = load(spark, sf_dir, "events").limit(2000)
    src = e.select("event_id", "user_id", "event_type")
    stream_append_table(spark, src, run, base, key_col="event_id", n_shards=3)
    want = sorted(r["event_id"] for r in src.collect())
    got = sorted(r["event_id"] for r in read_snapshot(spark, base).collect())
    assert got == want

    # completed-run reuse: a second call is a no-op
    stream_append_table(spark, src, run, base, key_col="event_id", n_shards=3)
    assert read_snapshot(spark, base).count() == len(want)

    # forced re-drive with the done marker removed: availableNow over the
    # same checkpoint admits no new files AND the epoch registry guards
    # any replayed batch — still no duplicates
    os.remove(os.path.join(run, "done"))
    stream_append_table(spark, src, run, base, key_col="event_id", n_shards=3)
    assert sorted(
        r["event_id"] for r in read_snapshot(spark, base).collect()
    ) == want


def test_compact_snapshot_content_identical(spark, tmp_path):
    """OPTIMIZE bin-packs fragments into fewer files as a new snapshot
    whose content is row-for-row identical; the fragmented snapshot stays
    readable; a compact of an already-compact table is a no-op."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        compact_snapshot,
    )

    base = str(tmp_path / "t")
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    publish_snapshot(df.filter(F.col("k") < 100), base, "k")
    for i in range(1, 10):
        append_rows(
            df.filter((F.col("k") >= i * 100) & (F.col("k") < (i + 1) * 100)),
            base,
            epoch=f"e{i}",
        )
    frag = read_manifest(base)
    assert len(frag["files"]) >= 10
    v_frag = 10

    v = compact_snapshot(spark, base, target_file_bytes=1 << 30)
    m = read_manifest(base, v)
    assert len(m["files"]) < len(frag["files"])
    assert m["rows"] == 1000
    got = sorted((r["k"], r["v"]) for r in read_snapshot(spark, base, v).collect())
    assert got == [(i, i * 7) for i in range(1000)]
    # pre-compact snapshot still readable until vacuum
    assert read_snapshot(spark, base, v_frag).count() == 1000
    # no-op on an already-compact table
    assert compact_snapshot(spark, base, target_file_bytes=1 << 30) == v


def test_commit_conflict_cas(spark, tmp_path):
    """Two writers racing from the same snapshot: the second commit of
    v=N+1 loses with CommitConflict and the table state is the winner's —
    never a silent overwrite."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        CommitConflict,
        erase_rows,
    )

    base = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") + 1).alias("v"))
    publish_snapshot(df, base, "k")

    # simulate the race: a concurrent writer lands v=2 between this
    # writer's manifest read and its commit
    import bridge_analytics_template_spark.sources.manifest_table as mt

    real_commit = mt._commit_manifest

    def racing_commit(b, version, manifest, op="commit"):
        # the other writer wins first, then the original commit runs
        if not os.path.exists(mt._manifest_path(b, version)):
            real_commit(b, version, {**manifest, "rows": -1, "files": manifest["files"]})
        real_commit(b, version, manifest, op)

    tomb = spark.range(10).select(F.col("id").alias("k"))
    import pytest as _pytest

    try:
        mt._commit_manifest = racing_commit
        with _pytest.raises(CommitConflict):
            erase_rows(spark, base, tomb, "k")
    finally:
        mt._commit_manifest = real_commit
    # the winner's commit is the table state
    assert read_manifest(base, 2)["rows"] == -1


def test_model_based_random_dml_sequences(spark, tmp_path):
    """Model-based check of the transactional surface: a seeded random
    sequence of publish/append/erase/merge/compact/vacuum against an
    in-memory dict model — after EVERY operation the latest snapshot must
    equal the model exactly. Catches cross-operation interactions no
    single-op test sees (e.g. merge after compact after erase)."""
    import random

    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        compact_snapshot,
        merge_rows,
    )

    def df_of(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows], "k long, v long"
        )

    for seed in (7, 42):
        rng = random.Random(seed)
        base = str(tmp_path / f"t{seed}")
        model: dict[int, int] = {i: i * 11 for i in range(0, 200, 2)}
        publish_snapshot(df_of(model.items()), base, "k", n_files=4)
        epoch = 0
        for step in range(10):
            op = rng.choice(["append", "erase", "merge", "compact", "vacuum"])
            if op == "append":
                # fresh keys only (append does not dedupe by key)
                new = {
                    k: k * 13
                    for k in rng.sample(range(1000, 2000), 20)
                    if k not in model
                }
                epoch += 1
                append_rows(df_of(new.items()), base, epoch=f"s{seed}e{epoch}")
                model.update(new)
            elif op == "erase":
                keys = rng.sample(sorted(model), min(15, len(model)))
                erase_rows(
                    spark,
                    base,
                    spark.createDataFrame([(k,) for k in keys], "k long"),
                    "k",
                )
                for k in keys:
                    model.pop(k, None)
            elif op == "merge":
                upd = {k: k * 17 for k in rng.sample(sorted(model), min(10, len(model)))}
                ins = {k: k * 17 for k in rng.sample(range(5000, 6000), 5)}
                merge_rows(spark, base, df_of({**upd, **ins}.items()))
                model.update(upd)
                model.update(ins)
            elif op == "compact":
                compact_snapshot(spark, base, target_file_bytes=1 << 30)
            else:
                vacuum(base, keep_versions=1)
            got = {r["k"]: r["v"] for r in read_snapshot(spark, base).collect()}
            assert got == model, f"seed {seed} diverged after step {step}: {op}"


def test_read_changes_insert_delete_update_and_compaction_cancel(
    spark, tmp_path
):
    """CHANGE DATA FEED: across publish -> append -> erase -> merge ->
    compact, read_changes(v_i, v_j) must emit exactly the net row delta
    (update = delete+insert pair), and a pure-compaction span must net
    ZERO changes (content-identical rewrite cancels under EXCEPT ALL)."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        compact_snapshot,
        merge_rows,
        read_changes,
    )

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    base = str(tmp_path / "t")
    v1 = publish_snapshot(df_of([(i, i) for i in range(100)]), base, "k", n_files=4)
    v2 = append_rows(df_of([(i, i) for i in range(100, 120)]), base, epoch="e1")
    v3 = erase_rows(
        spark, base, spark.createDataFrame([(k,) for k in range(0, 10)], "k long"), "k"
    )
    v4 = merge_rows(spark, base, df_of([(50, 5050), (500, 500)]))  # update + insert

    ch = read_changes(spark, base, v1, v4).collect()
    ins = {(r["k"], r["v"]) for r in ch if r["_change_type"] == "insert"}
    dels = {(r["k"], r["v"]) for r in ch if r["_change_type"] == "delete"}
    assert ins == {(i, i) for i in range(100, 120)} | {(50, 5050), (500, 500)}
    assert dels == {(i, i) for i in range(0, 10)} | {(50, 50)}
    # applying the feed to v1 reproduces v4 exactly
    v1_rows = {(r["k"], r["v"]) for r in read_snapshot(spark, base, v1).collect()}
    v4_rows = {(r["k"], r["v"]) for r in read_snapshot(spark, base, v4).collect()}
    assert (v1_rows | ins) - dels == v4_rows

    v5 = compact_snapshot(spark, base, target_file_bytes=1 << 30)
    assert v5 == v4 + 1  # several small files -> actually compacted
    assert read_changes(spark, base, v4, v5).count() == 0
    # empty span and sub-spans
    assert read_changes(spark, base, v2, v2).count() == 0
    sub = read_changes(spark, base, v2, v3).collect()
    assert {(r["k"], r["_change_type"]) for r in sub} == {
        (k, "delete") for k in range(0, 10)
    }


def test_bloom_prunes_hash_layout_and_lookup_exact(spark, sf_dir, tmp_path):
    """On a HASH-distributed layout every file's range bounds span the
    whole key domain (bounds prune nothing); the per-file bloom must
    prune a point probe to a strict subset of files WITHOUT ever dropping
    a file that truly holds a key — and lookup_rows must stay value-exact.
    Stripping the blooms from the manifest (a pre-bloom table) degrades
    to bounds-only all-pass, still exact."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        _candidate_files,
        lookup_rows,
    )

    base = str(tmp_path / "t")
    o = load(spark, sf_dir, "orders")
    publish_snapshot(o.repartition(8, F.col("o_custkey")), base, "o_orderkey")
    m = read_manifest(base)
    assert len(m["files"]) == 8 and all(e.get("bloom") for e in m["files"])

    # mid-domain keys: a hash-distributed file's [lo, hi] envelope covers
    # the middle of the domain (its lo/hi are near-extremes of a random
    # subset), so range bounds cannot prune these — only the bloom can
    all_keys = sorted(r["o_orderkey"] for r in o.select("o_orderkey").collect())
    n = len(all_keys)
    some = [all_keys[n // 3], all_keys[n // 2], all_keys[2 * n // 3]]
    keys = spark.createDataFrame([(k,) for k in some], "o_orderkey long")
    cand = set(_candidate_files(spark, m, keys, "o_orderkey"))
    # soundness: every file that truly holds a probed key is a candidate
    truth = {
        os.path.basename(r["_f"].removeprefix("file://").removeprefix("file:"))
        for r in read_snapshot(spark, base)
        .withColumn("_f", F.input_file_name())
        .filter(F.col("o_orderkey").isin(some))
        .select("_f")
        .collect()
    }
    assert truth <= cand
    # effectiveness: 3 keys in 8 hash files -> bloom must rule some out
    assert len(cand) < len(m["files"])

    got = sorted(
        (r["o_orderkey"], r["o_custkey"])
        for r in lookup_rows(spark, base, keys).collect()
    )
    want = sorted(
        (r["o_orderkey"], r["o_custkey"])
        for r in o.filter(F.col("o_orderkey").isin(some)).collect()
    )
    assert got == want

    # back-compat: a manifest without blooms (pre-bloom table) -> all-pass
    vs = max(
        int(f.split("=")[1].split(".")[0])
        for f in os.listdir(base)
        if f.endswith(".manifest.json")
    )
    path = os.path.join(base, f"v={vs}.manifest.json")
    with open(path) as fh:
        stripped = json.load(fh)
    for e in stripped["files"]:
        e.pop("bloom", None)
        e.pop("bloom_m", None)
    with open(path, "w") as fh:
        json.dump(stripped, fh)
    m2 = read_manifest(base)
    cand2 = set(_candidate_files(spark, m2, keys, "o_orderkey"))
    assert cand2 == {e["file"] for e in m2["files"]}  # bounds are all-pass
    got2 = sorted(
        (r["o_orderkey"], r["o_custkey"])
        for r in lookup_rows(spark, base, keys).collect()
    )
    assert got2 == want


def test_merge_lww_out_of_order_converges_and_replays_noop(spark, tmp_path):
    """Conditional newer-wins merge (order_cols): update batches applied
    OUT of version order converge to the last-writer-wins view; a stale
    or tied source row never regresses the table; a replayed epoch is a
    recognized no-op."""
    from bridge_analytics_template_spark.sources.manifest_table import merge_rows

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, ver long, val string")

    base = str(tmp_path / "t")
    publish_snapshot(
        df_of([(k, 0, f"base{k}") for k in range(50)]), base, "k", n_files=4
    )
    # batches deliberately out of version order: ver 2 lands before ver 1
    merge_rows(
        spark,
        base,
        df_of([(k, 2, f"v2-{k}") for k in range(0, 30)]),
        order_cols=["ver"],
        epoch="b2",
    )
    merge_rows(
        spark,
        base,
        df_of([(k, 1, f"v1-{k}") for k in range(0, 40)] + [(100, 1, "new")]),
        order_cols=["ver"],
        epoch="b1",
    )
    got = {
        r["k"]: (r["ver"], r["val"])
        for r in read_snapshot(spark, base).collect()
    }
    want = {k: (2, f"v2-{k}") for k in range(0, 30)}
    want.update({k: (1, f"v1-{k}") for k in range(30, 40)})
    want.update({k: (0, f"base{k}") for k in range(40, 50)})
    want[100] = (1, "new")
    assert got == want

    # duplicate keys inside one batch collapse to the per-key max tuple
    merge_rows(
        spark,
        base,
        df_of([(7, 3, "lo"), (7, 5, "hi"), (7, 4, "mid")]),
        order_cols=["ver"],
        epoch="b3",
    )
    assert {
        (r["ver"], r["val"])
        for r in read_snapshot(spark, base).filter(F.col("k") == 7).collect()
    } == {(5, "hi")}

    # a tied tuple keeps the table row (strictly-greater wins only)
    merge_rows(
        spark, base, df_of([(7, 5, "tied")]), order_cols=["ver"], epoch="b4"
    )
    assert {
        r["val"]
        for r in read_snapshot(spark, base).filter(F.col("k") == 7).collect()
    } == {"hi"}

    # epoch replay: recognized no-op, version unchanged
    before = read_manifest(base)
    merge_rows(
        spark,
        base,
        df_of([(0, 99, "SHOULD NOT LAND")]),
        order_cols=["ver"],
        epoch="b1",
    )
    assert read_manifest(base) == before


def test_erase_key_mismatch_raises(spark, tmp_path):
    """Pruning metadata lives on the PUBLISHED key; an erase keyed on any
    other column must fail loudly instead of silently missing files."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, other long")
    base = str(tmp_path / "t")
    publish_snapshot(df, base, "k")
    with pytest.raises(ValueError, match="table key"):
        erase_rows(
            spark, base, spark.createDataFrame([(10,)], "other long"), "other"
        )


def test_schema_evolution_metadata_only_and_non_resurrection(spark, tmp_path):
    """ADD/DROP are metadata-only commits (identical file list, zero bytes
    rewritten); added columns backfill their default on pre-add files;
    DROP + re-ADD of a name can never resurrect old bytes (per-file write
    generations vs the column's `since` — the field-id guarantee); a COW
    rewrite materializes the current spec; the key cannot be dropped."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        evolve_schema,
    )

    base = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    publish_snapshot(df, base, "k", n_files=4)
    files_before = [e["file"] for e in read_manifest(base)["files"]]

    evolve_schema(base, add=[("tag", "string", "LEGACY")])
    m = read_manifest(base)
    assert [e["file"] for e in m["files"]] == files_before  # metadata-only
    s = read_snapshot(spark, base)
    assert s.columns == ["k", "v", "tag"]
    assert s.filter(F.col("tag") == "LEGACY").count() == 100

    append_rows(
        spark.createDataFrame(
            [(1000 + i, 7, "NEW") for i in range(10)], "k long, v long, tag string"
        ),
        base,
        epoch="a1",
    )
    # time travel: the pre-evolve snapshot still reads the original shape
    assert read_snapshot(spark, base, 1).columns == ["k", "v"]

    evolve_schema(base, drop=["v"])
    assert read_snapshot(spark, base).columns == ["k", "tag"]
    evolve_schema(base, add=[("v", "bigint", 0)])
    s = read_snapshot(spark, base)
    assert s.agg(F.max("v")).first()[0] == 0  # old bytes must NOT resurrect

    # a COW rewrite materializes the current spec for the rewritten files
    # (erase a PARTIAL file range so at least one file is rewritten, not
    # just dropped)
    erase_rows(
        spark, base, spark.createDataFrame([(k,) for k in range(30)], "k long"), "k"
    )
    s = read_snapshot(spark, base)
    assert s.count() == 80 and s.agg(F.max("v")).first()[0] == 0
    m = read_manifest(base)
    sid = m["schema_id"]
    assert any(e["schema_id"] == sid for e in m["files"])  # rewritten files

    with pytest.raises(ValueError, match="cannot drop the table key"):
        evolve_schema(base, drop=["k"])
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(base, add=[("tag", "string", None)])
    with pytest.raises(ValueError, match="unknown column"):
        evolve_schema(base, drop=["nope"])


def test_zorder_stats_prune_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustered publish with two-column stats envelopes: a
    single-dimension probe on EITHER column must prune files from
    manifest metadata, and scan_pruned must remain sound (every matching
    row survives). A key-range-clustered layout over the same data serves
    only its leading column — the second dimension's probe keeps all
    files."""
    from bridge_analytics_template_spark.operators.zorder import zorder_key
    from bridge_analytics_template_spark.sources.manifest_table import (
        scan_pruned,
    )

    e = load(spark, sf_dir, "events")
    mu, me = e.agg(F.max("user_id"), F.max("event_id")).first()

    zbase = str(tmp_path / "z")
    publish_snapshot(
        e,
        zbase,
        "event_id",
        n_files=8,
        stats_cols=["user_id"],
        # dimensions normalized to a common bit width — a raw interleave
        # of unequal domains gives the narrow column no locality
        cluster_expr=zorder_key(
            (F.col("user_id") * 8192 / (mu + 1)).cast("long"),
            (F.col("event_id") * 8192 / (me + 1)).cast("long"),
            bits=13,
        ),
    )
    rbase = str(tmp_path / "r")
    publish_snapshot(
        e, rbase, "event_id", n_files=8, stats_cols=["user_id"]
    )  # range-clustered on the key (event_id) only

    def n_files(base, ranges):
        m = read_manifest(base)
        kept = scan_pruned(spark, base, ranges)
        # count by re-pruning driver-side: file count == distinct input files
        return kept.select(F.input_file_name()).distinct().count(), len(
            m["files"]
        )

    # user-only probe: z-order prunes, event_id-range layout cannot
    u_rng = {"user_id": (0, mu // 8)}
    zk, zt = n_files(zbase, u_rng)
    rk, rt = n_files(rbase, u_rng)
    assert zk < zt, (zk, zt)
    assert rk == rt, (rk, rt)
    # event-only probe: both layouts prune (z owns contiguous z-ranges;
    # range layout is clustered exactly on event_id)
    e_rng = {"event_id": (0, me // 8)}
    zk2, zt2 = n_files(zbase, e_rng)
    rk2, rt2 = n_files(rbase, e_rng)
    assert zk2 < zt2 and rk2 < rt2

    # soundness: pruned scan + exact filter == plain filter, both layouts
    want = e.filter(
        (F.col("user_id") <= mu // 8) & (F.col("event_id") <= me // 8)
    ).count()
    for base in (zbase, rbase):
        got = (
            scan_pruned(
                spark, base, {"user_id": (0, mu // 8), "event_id": (0, me // 8)}
            )
            .filter((F.col("user_id") <= mu // 8) & (F.col("event_id") <= me // 8))
            .count()
        )
        assert got == want


def test_history_ops_and_timestamp_time_travel(spark, tmp_path):
    """Every commit is stamped with its operation kind and wall-clock;
    table_history surfaces them (metadata only), and version_as_of
    resolves a timestamp to the snapshot that was current then — raising
    for timestamps before the oldest retained commit instead of silently
    answering with a later snapshot."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        evolve_schema,
        merge_rows,
        table_history,
        version_as_of,
    )

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    base = str(tmp_path / "t")
    publish_snapshot(df_of([(i, i) for i in range(40)]), base, "k", n_files=2)
    append_rows(df_of([(100, 1)]), base, epoch="e1")
    merge_rows(spark, base, df_of([(0, 99)]))
    erase_rows(
        spark, base, spark.createDataFrame([(1,)], "k long"), "k"
    )
    evolve_schema(base, add=[("tag", "string", None)])

    h = {r["version"]: r for r in table_history(spark, base).collect()}
    assert [h[v]["op"] for v in sorted(h)] == [
        "publish",
        "append",
        "merge",
        "erase",
        "evolve",
    ]
    assert h[1]["n_rows"] == 40 and h[2]["n_rows"] == 41
    assert h[4]["n_rows"] == 40  # one row erased
    ats = [h[v]["committed_at"] for v in sorted(h)]
    assert all(a is not None for a in ats) and ats == sorted(ats)

    # timestamp time travel: just after v2's commit resolves to v2
    assert version_as_of(base, h[2]["committed_at"]) == 2
    assert version_as_of(base, ats[-1] + 1.0) == 5
    with pytest.raises(FileNotFoundError):
        version_as_of(base, ats[0] - 1.0)
    # a vacuumed version is no longer resolvable
    vacuum(base, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        version_as_of(base, h[2]["committed_at"])


def test_tags_pin_snapshots_through_vacuum(spark, tmp_path):
    """A tagged snapshot survives vacuum retention (reproducibility pins
    outrank keep_versions); untagging releases it; resolve_tag reads the
    pinned bytes back exactly."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        read_tags,
        resolve_tag,
        tag_snapshot,
        untag_snapshot,
    )

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    base = str(tmp_path / "t")
    publish_snapshot(df_of([(i, i) for i in range(20)]), base, "k")
    assert tag_snapshot(base, "train-run") == 1
    append_rows(df_of([(100, 1)]), base, epoch="e1")
    append_rows(df_of([(101, 1)]), base, epoch="e2")

    vacuum(base, keep_versions=1)
    # the tagged v1 is still fully readable; untagged v2 is gone
    assert read_snapshot(spark, base, resolve_tag(base, "train-run")).count() == 20
    with pytest.raises(FileNotFoundError):
        read_manifest(base, 2)
    assert read_tags(base) == {"train-run": 1}

    untag_snapshot(base, "train-run")
    vacuum(base, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        read_manifest(base, 1)
    assert read_snapshot(spark, base).count() == 22

    with pytest.raises(FileNotFoundError):
        resolve_tag(base, "nope")
    with pytest.raises(FileNotFoundError):
        tag_snapshot(base, "x", version=99)


def test_retry_on_conflict_replans_against_winner(spark, tmp_path, monkeypatch):
    """retry_on_conflict re-runs the DML closure after a CommitConflict;
    because the DML re-reads the manifest at entry, the retry lands on
    top of the concurrent winner's snapshot (both writes survive)."""
    import bridge_analytics_template_spark.sources.manifest_table as mt

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    base = str(tmp_path / "t")
    publish_snapshot(df_of([(i, i) for i in range(10)]), base, "k")

    real_commit = mt._commit_manifest
    raced = {"done": False}

    def racing_commit(b, version, manifest, op="commit"):
        if not raced["done"]:
            # a concurrent writer sneaks in an append and wins v2
            raced["done"] = True
            mt.append_rows(df_of([(500, 5)]), b, epoch="race")
        real_commit(b, version, manifest, op)

    monkeypatch.setattr(mt, "_commit_manifest", racing_commit)
    v = mt.retry_on_conflict(
        lambda: mt.merge_rows(spark, base, df_of([(0, 99), (600, 6)]))
    )
    monkeypatch.setattr(mt, "_commit_manifest", real_commit)
    assert v == 3  # loser retried on top of the winner's v2
    got = {r["k"]: r["v"] for r in read_snapshot(spark, base).collect()}
    assert got[500] == 5 and got[0] == 99 and got[600] == 6
    assert len(got) == 12


def test_stream_append_auto_compaction_bounds_files(spark, sf_dir, tmp_path):
    """The streaming append sink's small-files policy: with max_files=2
    the table compacts mid-stream (history shows compact commits between
    appends), the file count stays bounded, and the final content still
    equals the batch source exactly — compaction is content-identical so
    exactly-once accounting is untouched."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        table_history,
    )
    from bridge_analytics_template_spark.streaming.ingest import (
        stream_append_table,
    )

    e = load(spark, sf_dir, "events").limit(2000)
    run = str(tmp_path / "run")
    base = str(tmp_path / "run" / "table")
    stream_append_table(
        spark, e, run, base, key_col="event_id", n_shards=6, max_files=2
    )
    ops = [r["op"] for r in table_history(spark, base).collect()]
    assert "compact" in ops
    idx = ops.index("compact")
    assert "append" in ops[idx + 1 :]  # compacted MID-stream, then kept appending
    assert len(read_manifest(base)["files"]) <= 3
    got = sorted(r["event_id"] for r in read_snapshot(spark, base).collect())
    want = sorted(r["event_id"] for r in e.collect())
    assert got == want


def test_model_based_dml_with_evolution_and_change_feed(spark, tmp_path):
    """Extended model-based fuzz over the FULL table surface: random
    append/erase/merge/evolve-add/evolve-drop/compact sequences against
    an in-memory model that tracks per-column add-generations, asserting
    after every step (a) the latest snapshot equals the model exactly
    under the CURRENT column spec, and (b) the APPLY-FEED identity:
    read_changes from a remembered earlier version transforms that
    version's (generation-projected) rows into the current rows —
    insert/delete feeds stay consistent across arbitrary evolve/compact
    interleavings."""
    import random

    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        compact_snapshot,
        evolve_schema,
        merge_rows,
        read_changes,
    )

    for seed in (3, 11):
        rng = random.Random(seed)
        base = str(tmp_path / f"t{seed}")
        # spec: list of (name, type, default, since_version); k is the key
        spec = [("k", "long", None, 1), ("v", "long", None, 1)]
        model: dict[int, dict] = {i: {"k": i, "v": i * 11} for i in range(0, 120, 2)}

        def df_of(rows_list):
            names = [c[0] for c in spec]
            ddl = ", ".join(f"{c[0]} {c[1]}" for c in spec)
            return spark.createDataFrame(
                [tuple(r[n] for n in names) for r in rows_list], ddl
            )

        def fresh_row(k):
            r = {"k": k}
            for name, _t, default, _s in spec[1:]:
                r[name] = k * 7 if _t == "long" else f"s{k}"
            return r

        cur_v = publish_snapshot(df_of(list(model.values())), base, "k", n_files=4)
        prev_v = cur_v
        prev_model = {k: dict(r) for k, r in model.items()}
        epoch = 0
        extra_col = 0
        for step in range(12):
            op = rng.choice(
                ["append", "erase", "merge", "evolve_add", "evolve_drop", "compact"]
            )
            if op == "append":
                new = [fresh_row(k) for k in rng.sample(range(1000, 2000), 8) if k not in model]
                epoch += 1
                cur_v = append_rows(df_of(new), base, epoch=f"s{seed}e{epoch}")
                model.update({r["k"]: r for r in new})
            elif op == "erase":
                keys = rng.sample(sorted(model), min(10, len(model)))
                cur_v = erase_rows(
                    spark, base,
                    spark.createDataFrame([(k,) for k in keys], "k long"), "k",
                )
                for k in keys:
                    model.pop(k, None)
            elif op == "merge":
                upd = [dict(model[k], v=k * 19) if "v" in model[k] else dict(model[k])
                       for k in rng.sample(sorted(model), min(6, len(model)))]
                ins = [fresh_row(k) for k in rng.sample(range(5000, 6000), 3)]
                cur_v = merge_rows(spark, base, df_of(upd + ins))
                model.update({r["k"]: r for r in upd + ins})
            elif op == "evolve_add":
                extra_col += 1
                name, default = f"c{extra_col}", extra_col * 100
                cur_v = evolve_schema(base, add=[(name, "long", default)])
                spec.append((name, "long", default, cur_v))
                for r in model.values():
                    r[name] = default
            elif op == "evolve_drop":
                droppable = [c[0] for c in spec if c[0] not in ("k",)]
                if len(droppable) <= 1:
                    continue  # keep at least one value column
                name = rng.choice([c for c in droppable if c != "v"] or droppable)
                cur_v = evolve_schema(base, drop=[name])
                spec[:] = [c for c in spec if c[0] != name]
                for r in model.values():
                    r.pop(name, None)
            else:
                cur_v = compact_snapshot(spark, base, target_file_bytes=1 << 30)

            names = [c[0] for c in spec]
            got = {
                r["k"]: {n: r[n] for n in names}
                for r in read_snapshot(spark, base).collect()
            }
            assert got == model, f"seed {seed} step {step} ({op}) diverged"

            # apply-feed identity vs the remembered version: project the
            # remembered rows to the CURRENT spec (a column added after
            # prev_v shows its default for prev rows; dropped ones vanish)
            def proj(r):
                return tuple(
                    r.get(n) if s <= prev_v else d
                    for n, _t, d, s in spec
                )

            prev_rows = {proj(r) for r in prev_model.values()}
            cur_rows = {tuple(r[n] for n in names) for r in model.values()}
            ch = read_changes(spark, base, prev_v, cur_v).collect()
            ins_rows = {tuple(r[n] for n in names) for r in ch if r["_change_type"] == "insert"}
            del_rows = {tuple(r[n] for n in names) for r in ch if r["_change_type"] == "delete"}
            assert (prev_rows | ins_rows) - del_rows == cur_rows, (
                f"seed {seed} step {step} ({op}): apply-feed identity broke"
            )
            assert not (ins_rows & del_rows)
            # re-baseline every few steps so spans stay multi-op but bounded
            if step % 4 == 3:
                prev_v = cur_v
                prev_model = {k: dict(r) for k, r in model.items()}


def test_epoch_replay_survives_interleaved_erase_and_age_retention(
    spark, tmp_path
):
    """(a) The epoch registry survives interleaved commit kinds: an
    append epoch already recorded stays a no-op even after an erase and a
    merge landed in between (the foreachBatch crash-replay window can
    reopen arbitrarily late). (b) vacuum(retain_seconds=...) keeps every
    snapshot inside the time window even past keep_versions — the
    RETAIN-n-HOURS contract timestamp time travel depends on."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        merge_rows,
        read_tags,
    )

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, v long")

    base = str(tmp_path / "t")
    publish_snapshot(df_of([(i, i) for i in range(30)]), base, "k")
    v2 = append_rows(df_of([(100, 1), (101, 1)]), base, epoch="e1")
    erase_rows(spark, base, spark.createDataFrame([(100,)], "k long"), "k")
    merge_rows(spark, base, df_of([(0, 99)]))
    head = read_manifest(base)
    assert "e1" in head["epochs"]
    # the late replay: must be a recognized no-op, not a re-append
    assert append_rows(df_of([(100, 1), (101, 1)]), base, epoch="e1") == 4
    assert read_manifest(base) == head
    assert read_snapshot(spark, base).filter(F.col("k") == 100).count() == 0

    # age-based retention: everything just committed is inside the window,
    # so keep_versions=1 alone would drop v1..v3 but retain_seconds keeps
    # them (and time travel to v2 still answers)
    removed = vacuum(base, keep_versions=1, retain_seconds=3600)
    assert all(not r.startswith("v=") for r in removed)
    assert read_manifest(base, v2)["rows"] == 32
    # a zero-second window falls back to keep_versions + tags
    vacuum(base, keep_versions=1, retain_seconds=0)
    with pytest.raises(FileNotFoundError):
        read_manifest(base, v2)
    assert read_tags(base) == {}


def test_merge_lww_duplicate_key_table_no_fanout(spark, tmp_path):
    """The table legally holds several rows per key (append never
    dedupes). A conditional merge whose source wins such a key must
    replace ALL the key's copies with exactly ONE source row — never fan
    the winner out once per copy; a losing source leaves every copy."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        merge_rows,
    )

    def df_of(rows):
        return spark.createDataFrame(rows, "k long, ver long, val string")

    base = str(tmp_path / "t")
    publish_snapshot(df_of([(5, 1, "a"), (6, 1, "x")]), base, "k")
    append_rows(df_of([(5, 2, "b"), (5, 3, "c")]), base, epoch="dup")
    assert read_snapshot(spark, base).filter(F.col("k") == 5).count() == 3

    # source beats the key's MAX table tuple -> one row survives
    merge_rows(spark, base, df_of([(5, 9, "win")]), order_cols=["ver"], epoch="w")
    got = [
        (r["ver"], r["val"])
        for r in read_snapshot(spark, base).filter(F.col("k") == 5).collect()
    ]
    assert got == [(9, "win")]
    # a losing source (below the max) leaves the single winner intact
    merge_rows(spark, base, df_of([(5, 4, "stale")]), order_cols=["ver"], epoch="l")
    got = [
        (r["ver"], r["val"])
        for r in read_snapshot(spark, base).filter(F.col("k") == 5).collect()
    ]
    assert got == [(9, "win")]
    # untouched key keeps its copy
    assert read_snapshot(spark, base).filter(F.col("k") == 6).count() == 1


def test_bloom_probe_casts_key_type(spark, tmp_path):
    """xxhash64 is type-width-sensitive: probing a bigint-built bloom
    with an INT-typed tombstone column must still find the files (the
    probe casts to the table key's physical type) — otherwise erase and
    lookup would silently miss rows."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        lookup_rows,
    )

    base = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    publish_snapshot(df.repartition(4, F.col("v")), base, "k")  # hash layout

    int_keys = spark.createDataFrame([(7,), (500,)], "k int")
    got = sorted(r["k"] for r in lookup_rows(spark, base, int_keys).collect())
    assert got == [7, 500]
    v2 = erase_rows(spark, base, int_keys, "k")
    assert read_snapshot(spark, base, v2).filter(
        F.col("k").isin([7, 500])
    ).count() == 0
    assert read_manifest(base, v2)["rows"] == 998


def test_evolve_preserves_stats_cols(spark, tmp_path):
    """evolve_schema must carry the declared stats columns forward (minus
    any just dropped) so rewrites keep recording envelopes and
    scan_pruned keeps pruning after an ALTER TABLE."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        evolve_schema,
    )

    base = str(tmp_path / "t")
    df = spark.range(0, 400).selectExpr("id AS k", "id * 2 AS v", "id % 7 AS w")
    publish_snapshot(df, base, "k", n_files=4, stats_cols=["v", "w"])
    evolve_schema(base, add=[("tag", "string", "L")])
    assert read_manifest(base)["stats_cols"] == ["v", "w"]
    append_rows(
        spark.range(1000, 1100).selectExpr(
            "id AS k", "id * 2 AS v", "id % 7 AS w", "'N' AS tag"
        ),
        base,
        epoch="e1",
    )
    new_entries = [
        e for e in read_manifest(base)["files"] if e.get("stats")
    ]
    assert all("v" in e["stats"] for e in new_entries)
    # dropping a stats column removes just that envelope declaration
    evolve_schema(base, drop=["w"])
    assert read_manifest(base)["stats_cols"] == ["v"]


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_job_counts_pinned(spark, tmp_path):
    """Each commit kind runs a fixed number of Spark jobs: the staged
    write, ONE stats+bloom aggregation over the staged parts (two jobs
    under AQE: shuffle map + result) and, for erase/merge, the candidate
    probe and the affected-file scan — no schema-inference job anywhere.
    The counts repeat exactly, so a change that brings back a re-read or
    an inference job fails here."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        append_rows,
        merge_rows,
    )

    df = spark.range(0, 2000).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id % 7 AS STRING) AS w"
    )
    tomb = spark.range(100, 110).selectExpr("id AS k")
    src = spark.range(1990, 2010).selectExpr("id AS k", "id * 3 AS v", "'m' AS w")
    add = spark.range(3000, 3050).selectExpr("id AS k", "id * 2 AS v", "'a' AS w")
    for rep in range(2):
        base = str(tmp_path / f"t{rep}")
        counts = {
            "publish": _jobs(
                spark, lambda: publish_snapshot(df, base, "k", n_files=4)
            ),
            "erase": _jobs(spark, lambda: erase_rows(spark, base, tomb)),
            "merge": _jobs(spark, lambda: merge_rows(spark, base, src)),
            "append": _jobs(spark, lambda: append_rows(add, base)),
        }
        assert counts == {"publish": 5, "erase": 10, "merge": 10, "append": 3}
        assert read_manifest(base)["rows"] == 2000 - 10 + 10 + 50


def _reference_stats(spark, base: str, m: dict) -> dict:
    """Per-file (rows, [(lo, hi) of the key and each stats column]) the way
    entries were computed before the fused pass: a count/min/max
    aggregation grouped by input file over the final files."""
    cols = [m["key_col"], *m.get("stats_cols", [])]
    files = [os.path.join(base, "files", e["file"]) for e in m["files"]]
    aggs = [F.count(F.lit(1)).alias("rows")]
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
    return {
        os.path.basename(r["f"]): (
            r["rows"],
            [(r[f"lo{i}"], r[f"hi{i}"]) for i in range(len(cols))],
        )
        for r in spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    }


def _nan_safe(v):
    return "NaN" if isinstance(v, float) and v != v else v


def _assert_entries_match_reference(spark, base: str) -> dict:
    """Every entry of the current snapshot equals the per-file reference,
    and its bloom is bit-identical to the connector's pure-Python bitmap
    over the file's keys at the entry's m."""
    import pyarrow.parquet as pq

    from bridge_analytics_template_spark.sources.manifest_table import (
        _bloom_size,
    )
    from bridge_analytics_template_spark.sources.table_connector import (
        _bloom_bitmap,
    )

    m = read_manifest(base)
    key = m["key_col"]
    key_type = next(c["type"] for c in m["columns"] if c["name"] == key)
    ref = _reference_stats(spark, base, m) if m["files"] else {}
    assert set(ref) == {e["file"] for e in m["files"]}
    for e in m["files"]:
        got = [(e["lo"], e["hi"])] + [
            tuple(e["stats"][c]) for c in m.get("stats_cols", [])
        ]
        rows, want = ref[e["file"]]
        assert e["rows"] == rows > 0
        assert [tuple(map(_nan_safe, p)) for p in got] == [
            tuple(map(_nan_safe, p)) for p in want
        ], e["file"]
        keys = (
            pq.read_table(os.path.join(base, "files", e["file"]), columns=[key])
            .column(key)
            .to_pylist()
        )
        assert (e["bloom"], e["bloom_m"]) == _bloom_bitmap(
            keys, key_type, e["bloom_m"]
        )
        # m is sized by the commit's largest part
        assert e["bloom_m"] >= _bloom_size(e["rows"])
    return m


def test_fused_metadata_pass_matches_per_file_reference(spark, tmp_path):
    """The one-pass entry metadata (footer row counts; per-(file, word)
    bit_or + min/max folded on the driver) equals the per-file
    count/min/max it replaced, on the layouts where a fold could go wrong:
    a part split across several scan tasks, zero-row parts, a string key,
    declared stats columns (with a NaN) and NULL keys — including a file
    whose keys are ALL NULL."""
    import pyarrow.parquet as pq

    from bridge_analytics_template_spark.sources.manifest_table import (
        _bloom_size,
        append_rows,
    )

    # 1. one part in many row groups, read back by several tasks
    split = str(tmp_path / "split")
    df = spark.range(0, 20000).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS k",
        "CASE WHEN id = 7 THEN double('NaN') ELSE id * 1.5 END AS v",
        "CAST(id % 13 AS STRING) AS w",
    )
    conf = {
        "parquet.block.size": "16384",
        "spark.sql.files.maxPartitionBytes": "32k",
        "spark.sql.files.openCostInBytes": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        publish_snapshot(df.coalesce(1), split, "k", stats_cols=["v", "w"])
        (e,) = read_manifest(split)["files"]
        path = os.path.join(split, "files", e["file"])
        assert pq.read_metadata(path).num_row_groups > 1
        assert spark.read.parquet(path).rdd.getNumPartitions() > 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    m = _assert_entries_match_reference(spark, split)
    assert math.isnan(m["files"][0]["stats"]["v"][1])  # NaN sorts highest

    # 2. zero-row parts: a 2-row frame over 8 partitions writes an empty
    # part next to the full ones; an all-empty append writes only that
    tiny = str(tmp_path / "tiny")
    publish_snapshot(
        spark.range(2).selectExpr("id AS k", "id AS v").repartition(8), tiny, "k"
    )
    assert len(_assert_entries_match_reference(spark, tiny)["files"]) == 2
    append_rows(spark.range(0).selectExpr("id AS k", "id AS v"), tiny)
    assert len(_assert_entries_match_reference(spark, tiny)["files"]) == 2

    # 3. string key, range-clustered over several files
    strkey = str(tmp_path / "str")
    publish_snapshot(
        spark.range(0, 3000).selectExpr("CONCAT('k', id) AS s", "id AS v"),
        strkey,
        "s",
        n_files=3,
    )
    m = _assert_entries_match_reference(spark, strkey)
    assert len(m["files"]) == 3
    assert {e["bloom_m"] for e in m["files"]} == {
        _bloom_size(max(e["rows"] for e in m["files"]))
    }

    # 4. NULL keys: one file of nothing but NULL keys, one mixed
    nulls = str(tmp_path / "nulls")
    publish_snapshot(
        spark.range(0, 100)
        .selectExpr("CAST(NULL AS BIGINT) AS k", "id AS g")
        .coalesce(1),
        nulls,
        "k",
        stats_cols=["g"],
    )
    append_rows(
        spark.range(100, 400)
        .selectExpr("CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS k", "id AS g")
        .coalesce(1),
        nulls,
    )
    m = _assert_entries_match_reference(spark, nulls)
    assert sorted((e["lo"] is None, e["rows"]) for e in m["files"]) == [
        (False, 300),
        (True, 100),
    ]


def test_all_null_keys_erase_merge_lookup(spark, tmp_path):
    """A nullable key that is NULL in every row leaves every entry with
    lo = hi = NULL. The candidate probe types its stats relation from the
    manifest's key type, so erase / merge / lookup still plan (they used
    to fail inferring a type from all-None bounds) and lose no row."""
    from bridge_analytics_template_spark.sources.manifest_table import (
        lookup_rows,
        merge_rows,
    )

    base = str(tmp_path / "t")
    publish_snapshot(
        spark.createDataFrame([(None, "a"), (None, "b")], "k long, v string"),
        base,
        "k",
    )
    assert all(e["lo"] is None and e["hi"] is None for e in read_manifest(base)["files"])
    one = spark.createDataFrame([(1,)], "k long")
    assert erase_rows(spark, base, one) == 1  # nothing matched: no new version
    assert lookup_rows(spark, base, one).count() == 0
    merge_rows(spark, base, spark.createDataFrame([(1, "x")], "k long, v string"))
    got = sorted(
        (r["k"] is None, r["k"] or 0, r["v"]) for r in read_snapshot(spark, base).collect()
    )
    assert got == [(False, 1, "x"), (True, 0, "a"), (True, 0, "b")]
