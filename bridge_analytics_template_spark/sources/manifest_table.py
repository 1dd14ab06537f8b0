"""Manifest-versioned parquet table: snapshot isolation, copy-on-write row
erasure, vacuum — the lakehouse commit protocol reduced to what a governed
100 TB lake actually needs to EXECUTE a deletion request (the reference's
data-governance surface is ACL curation, `/root/reference/src/
copy_from_template.py:244-277`; this module is the row-level enforcement
side of the same governance story, and the table-level completion of the
r8 index-erasure tier).

Layout::

    base/files/part-<uuid>.parquet   immutable data files, content-addressed
                                     names — a file is NEVER rewritten in
                                     place, only referenced or replaced
    base/v=N.manifest.json           snapshot N = the member-file list with
                                     per-file row counts and key bounds

Why manifests and not directories (``sources/versioning.py`` keeps the
directory-per-version form for full-replacement publishes): a deletion that
touches 0.1% of files must not copy the other 99.9%. A manifest snapshot
references unchanged files VERBATIM — copy-on-write at file granularity,
which is exactly the Iceberg/Delta data-file reuse contract. The commit
point is one ``tmp + os.replace`` of the manifest (the same atomicity
discipline as the persisted-index ``meta.json`` and the Python DataSource
sink): a crash mid-erase leaves orphan data files and the OLD snapshot
fully intact; ``vacuum`` collects the orphans.

Erasure plan at scale (``erase_rows``):

1. FILE PRUNING from bounded metadata — the per-file [min, max] key bounds
   stored in the manifest (the embedded form of ``sources/fileindex.py``'s
   standalone bounds index) range-semi-join the tombstone keys; a file whose
   envelope contains no tombstone is reused by reference without being
   opened. Range-clustered publishes make the bounds tight.
2. EXACT AFFECTED SET — scan only the candidate files' key column, typed
   from the manifest (no schema-inference job), semi-join the tombstones,
   collect the distinct file list (bounded by file count, never rows).
3. REWRITE survivors of affected files only (one distributed anti-join
   write). The new parts' entries come from ONE aggregation over the
   staged parts — key bounds, declared column stats and the key bloom
   together — with exact row counts from the parquet footers.
4. COMMIT a new manifest: untouched entries verbatim + replacement entries.

Old snapshots stay readable (audit/time-travel) until ``vacuum`` drops
their exclusive files — GDPR practice: the deletion SLA is met at commit
time by the new snapshot, physical destruction completes at vacuum, both
timestamps auditable.

Constraint: the table key must be a numeric or string column — its
per-file min/max bounds are stored as JSON in the manifest (a timestamp
key would need an epoch-micros surrogate column).

Beyond bounds, every data file carries a PER-FILE BLOOM FILTER over the
key in its manifest entry (hex bitmap + bit count): range bounds prune
range-clustered layouts, but an append-heavy or hash-distributed table has
near-full-range bounds on every file, and there a point probe (equality
tombstone, CDC merge key, lookup) still has to open everything. The bloom
answers "might this file hold this key?" from manifest metadata alone —
the same role as Parquet footer blooms / Iceberg puffin sidecars, kept in
the manifest here because fixture files are small; at real file sizes the
bitmap would move to a sidecar referenced by the entry. Probing is pure
JVM expression (xxhash64 + shift/mask on a broadcast stats relation), so
a million tombstones probe |files| blooms in one tiny join.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST = re.compile(r"^v=(\d+)\.manifest\.json$")


def _versions(base: str) -> list[int]:
    if not os.path.isdir(base):
        return []
    return sorted(
        int(m.group(1)) for d in os.listdir(base) if (m := _MANIFEST.match(d))
    )


def _manifest_path(base: str, version: int) -> str:
    return os.path.join(base, f"v={version}.manifest.json")


def read_manifest(base: str, version: int | None = None) -> dict:
    vs = _versions(base)
    if not vs:
        raise FileNotFoundError(f"no snapshots under {base}")
    v = version if version is not None else vs[-1]
    if v not in vs:
        raise FileNotFoundError(f"snapshot v={v} not in {vs}")
    with open(_manifest_path(base, v)) as fh:
        return json.load(fh)


class CommitConflict(Exception):
    """Another writer committed this version first — re-read the table
    state and retry the operation (optimistic concurrency)."""


def _commit_manifest(
    base: str, version: int, manifest: dict, op: str = "commit"
) -> None:
    """Atomic compare-and-swap commit: the manifest for ``version`` is
    created EXCLUSIVELY (write tmp, then ``os.link`` — link fails if the
    target exists), so two writers that both read snapshot N and try to
    commit N+1 cannot both win; the loser gets :class:`CommitConflict`
    and must re-read + retry. This is the version-file CAS every
    manifest-log table format builds its isolation on (on object stores
    the same contract comes from if-none-match puts).

    Every commit is stamped with its operation kind and wall-clock time —
    the audit trail ``table_history`` surfaces (DESCRIBE HISTORY) and the
    index ``read_snapshot(as_of=...)`` time-travels on."""
    import time

    manifest = {**manifest, "op": op, "committed_at": time.time()}
    tmp = _manifest_path(base, version) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, _manifest_path(base, version))
    except FileExistsError:
        raise CommitConflict(
            f"snapshot v={version} was committed concurrently at {base}; "
            "re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)


# --- Schema evolution ---------------------------------------------------------
#
# The manifest carries the TABLE schema as an ordered column spec
# ``columns: [{name, type, since, default}]`` plus a monotonically bumped
# ``schema_id``; every data-file entry records the schema_id it was WRITTEN
# under. ADD and DROP are metadata-only commits (no file is touched — the
# operation is O(1) regardless of table size, the property that makes schema
# change viable on a 100 TB table). Readers reconcile per generation:
#
# - a column is taken from a file's bytes only when the file's generation is
#   >= the column's ``since``; otherwise the column's DEFAULT is projected.
#   This gives Delta/Iceberg ADD-with-default semantics (existing rows show
#   the default, new writes materialize real values) — and, crucially, makes
#   DROP + re-ADD of the same name safe: old files' bytes can never
#   resurrect through the re-added column, because their generation predates
#   its ``since`` (the same guarantee real formats get from field IDs).
# - a dropped column simply leaves the spec; old files still carry the bytes
#   (time travel to a pre-drop snapshot still sees them) until a rewrite
#   (erase/merge/compact) materializes the current spec.


def _columns_of(m: dict) -> list[dict] | None:
    return m.get("columns")


def _spec_from_schema(schema: StructType, since: int) -> list[dict]:
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "since": since,
            "default": None,
        }
        for f in schema.fields
    ]


def _schema_from_spec(columns: list[dict]) -> StructType:
    return StructType.fromDDL(
        ", ".join(f"`{c['name']}` {c['type']}" for c in columns)
    )


def _read_entries(
    spark: SparkSession, base: str, m: dict, entries: list[dict]
) -> DataFrame:
    """Read the given manifest entries reconciled to ``m``'s CURRENT column
    spec: files are grouped by the generation they were written under (one
    group per schema_id — a handful, never per-file), each group reads the
    spec columns whose ``since`` generation it reaches from bytes and
    projects everything else from the column's default. Every read is
    typed from the manifest (the spec, or a legacy manifest's ``schema``),
    so no schema-inference job runs: a file of generation ``sid`` was
    written with every spec column of ``since <= sid`` (ADD is the only way
    a column enters the spec, and a rewrite materializes the whole spec)."""
    files_dir = os.path.join(base, "files")
    columns = _columns_of(m)
    if columns is None:
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not entries:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *(os.path.join(files_dir, e["file"]) for e in entries)
        )
    if not entries:
        return spark.createDataFrame([], _schema_from_spec(columns))
    groups: dict[int, list[str]] = {}
    for e in entries:
        groups.setdefault(e.get("schema_id", 1), []).append(e["file"])
    out = None
    for sid in sorted(groups):
        # the key is never dropped and dates from generation 1, so every
        # group reads at least one column from bytes
        stored = [c for c in columns if sid >= c["since"]]
        df = spark.read.schema(_schema_from_spec(stored)).parquet(
            *(os.path.join(files_dir, f) for f in groups[sid])
        )
        sel = [
            (F.col(c["name"]) if sid >= c["since"] else F.lit(c["default"]))
            .cast(c["type"])
            .alias(c["name"])
            for c in columns
        ]
        g = df.select(*sel)
        out = g if out is None else out.unionByName(g)
    return out


def evolve_schema(
    base: str,
    add: list[tuple[str, str, object]] | None = None,
    drop: list[str] | None = None,
) -> int:
    """Metadata-only schema change: ADD columns (name, sparkSQL type,
    default — shown for every row written before the add) and/or DROP
    columns. Commits a new snapshot with the SAME file list — zero bytes
    rewritten, the O(1)-in-table-size property a 100 TB ALTER TABLE needs.
    The table key cannot be dropped (pruning metadata lives on it).
    Returns the new version."""
    m = read_manifest(base)
    columns = _columns_of(m)
    if columns is None:
        # upgrade a legacy manifest: current schema becomes generation 1
        columns = _spec_from_schema(
            StructType.fromJson(json.loads(m["schema"])), 1
        )
    sid = m.get("schema_id", 1) + 1
    names = [c["name"] for c in columns]
    for d in drop or []:
        if d == m["key_col"]:
            raise ValueError(f"cannot drop the table key {d!r}")
        if d not in names:
            raise ValueError(f"cannot drop unknown column {d!r}")
    columns = [c for c in columns if c["name"] not in set(drop or [])]
    for name, typ, default in add or []:
        if name in (c["name"] for c in columns):
            raise ValueError(f"column {name!r} already exists")
        columns.append(
            {"name": name, "type": typ, "since": sid, "default": default}
        )
    v = _versions(base)[-1] + 1
    manifest = {
        "key_col": m["key_col"],
        "schema": _schema_from_spec(columns).json(),
        "schema_id": sid,
        "columns": columns,
        "files": m["files"],
        "rows": m["rows"],
        "epochs": m.get("epochs", []),
    }
    # declared stats columns survive the evolve (minus any just dropped —
    # their envelopes would be unreconstructable without a rewrite)
    kept_stats = [c for c in m.get("stats_cols", []) if c not in set(drop or [])]
    if kept_stats:
        manifest["stats_cols"] = kept_stats
    _commit_manifest(base, v, manifest, op="evolve")
    return v


# --- Per-file key bloom filters ----------------------------------------------

_BLOOM_K = 3  # probe positions per key; with ~10 bits/key -> ~1.7% fp
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 20  # cap: a saturated bloom is a harmless all-pass;
# past ~100k rows/file the bitmap belongs in a sidecar, not the manifest


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1)).bit_length()


def _bloom_size(rows: int) -> int:
    """Bloom bit count m for a file of ``rows`` keys (~10 bits per key)."""
    return min(_BLOOM_MAX_BITS, max(_BLOOM_MIN_BITS, _next_pow2(10 * rows)))


def _bloom_position_sql(key_sql: str, i: int, m_sql: str) -> str:
    """Probe position i of a key in an m-bit bloom, as a SQL fragment —
    the ONE definition both the build aggregation and the candidate-file
    probe compile from, so the two can never drift (seeded by mixing a
    literal into xxhash64's input; the key expression must already be
    cast to the table key's physical type — xxhash64 is
    type-width-sensitive)."""
    return f"pmod(xxhash64({key_sql}, {i}), {m_sql})"


def _bloom_words(entry: dict):
    """Manifest entry's bitmap as SIGNED 64-bit words (Spark LongType), or
    None for entries written before blooms existed (back-compat: no bloom
    means the file always MIGHT match)."""
    import numpy as np

    hx = entry.get("bloom")
    return np.frombuffer(bytes.fromhex(hx), "<i8") if hx else None


def _key_type(m: dict):
    """The table key's Spark type as the manifest records it."""
    return StructType.fromJson(json.loads(m["schema"]))[m["key_col"]].dataType


def _candidate_files(
    spark: SparkSession, m: dict, keys: DataFrame, key: str
) -> list[str]:
    """Files of snapshot-manifest ``m`` that MIGHT hold any key of
    ``keys`` — pruned purely from manifest metadata: the per-file
    [lo, hi] range envelope AND the per-file key bloom, both evaluated in
    one broadcast join (the stats side is |files| rows by construction).
    Sound (never drops a file that holds a key); the exact affected set
    still needs a scan of the survivors."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    entries = m["files"]
    if not entries:
        return []
    # cast the probe keys to the table key's PHYSICAL type: xxhash64 is
    # type-width-sensitive (hash of INT 5 != hash of BIGINT 5), so an
    # int-typed tombstone column probed against a bigint-built bloom
    # would silently rule out every file that truly holds the key —
    # bounds alone tolerated the mismatch via numeric coercion, blooms
    # must not reintroduce it
    key_type = _key_type(m)
    k = keys.select(F.col(keys.columns[0]).cast(key_type).alias(key))
    # the stats relation is typed from the manifest (lo/hi as the key
    # type), never inferred from the Python values — an all-NULL bounds
    # column has no type to infer — and built from Arrow, so it plans as a
    # JVM local relation instead of a Python-worker parallelize
    bounds_type = to_arrow_type(key_type)
    stats = spark.createDataFrame(
        pa.table(
            {
                "file": pa.array([e["file"] for e in entries], pa.string()),
                "lo": pa.array([e["lo"] for e in entries], bounds_type),
                "hi": pa.array([e["hi"] for e in entries], bounds_type),
                "_bm": pa.array(
                    [_bloom_words(e) for e in entries], pa.list_(pa.int64())
                ),
                "_m": pa.array([e.get("bloom_m") for e in entries], pa.int64()),
            }
        )
    )
    # probe positions come from the SAME SQL fragment builder as the build
    # side (_bloom_position_sql) — the two must never drift
    maybe = F.lit(True)
    for i in range(_BLOOM_K):
        pos = _bloom_position_sql(f"`{key}`", i, "_m")
        maybe = maybe & F.expr(
            f"(shiftright(element_at(_bm, CAST({pos} DIV 64 AS INT) + 1), "
            f"CAST({pos} % 64 AS INT)) & 1) = 1"
        )
    cond = (
        (F.col(key) >= F.col("lo"))
        & (F.col(key) <= F.col("hi"))
        & (F.col("_bm").isNull() | maybe)
    )
    # stream the (arbitrarily large) key set against the BROADCAST stats
    # relation; distinct collapses to <= |files| rows map-side before the
    # driver ever sees anything
    return [
        r["file"]
        for r in k.join(F.broadcast(stats), cond, "inner")
        .select("file")
        .distinct()
        .collect()
    ]


def _affected_files(
    spark: SparkSession, base: str, m: dict, cand: list[str], keys: DataFrame
) -> set[str]:
    """The EXACT subset of the candidate files holding a key of ``keys``:
    a scan of the candidates' key column alone (present in every
    generation — the key can never be dropped), typed from the manifest so
    no inference job runs; the collect is bounded by the file count, never
    by rows."""
    if not cand:
        return set()
    key = m["key_col"]
    scan = (
        spark.read.schema(StructType().add(key, _key_type(m)))
        .parquet(*(os.path.join(base, "files", f) for f in cand))
        .select(F.col(key), F.col("_metadata.file_name").alias("_f"))
    )
    return {
        r["_f"]
        for r in scan.join(keys, key, "left_semi").select("_f").distinct().collect()
    }


def _carry(m: dict, files: list[dict], epochs: list[str] | None = None) -> dict:
    """Next-version manifest dict carrying the table-level metadata (key,
    schema spec + generation, epoch registry) forward unchanged."""
    out = {
        "key_col": m["key_col"],
        "schema": m["schema"],
        "files": files,
        "rows": sum(e["rows"] for e in files),
        "epochs": epochs if epochs is not None else m.get("epochs", []),
    }
    if _columns_of(m) is not None:
        out["schema_id"] = m.get("schema_id", 1)
        out["columns"] = m["columns"]
    if m.get("stats_cols"):
        out["stats_cols"] = m["stats_cols"]
    return out


def _fold(pick, a, b):
    """``pick`` (min or max) of two envelope values under Spark's
    ordering: NULL is ignored and NaN sorts above every number."""
    if a is None or b is None:
        return b if a is None else a
    return pick(a, b, key=lambda x: (x != x, x))


def _ingest_parts(
    df: DataFrame,
    base: str,
    key_col: str,
    schema_id: int = 1,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` as staged parquet parts, move them into ``files/``
    under fresh content-addressed names and return their manifest entries.

    The per-file metadata comes from ONE aggregation over the staged part
    files, read with ``df``'s own schema pruned to the key and the
    declared stats columns (no schema-inference job): grouped by (file,
    bloom word), it bit_ors the key's bloom bits and takes min/max of the
    key and of each stats column, and the driver folds the per-word
    envelopes into per-file ones — |files| x (set words) of metadata
    out, never rows. Row counts are the parquet footers' exact counts,
    which also size the bloom; a zero-row part (an empty partition still
    writes one) is dropped. A non-empty part the pass has no metadata for
    fails the commit rather than being manifested with a guess.
    ``stats_cols`` adds per-file [min, max] envelopes for NON-key columns
    to each entry (Iceberg-style column stats — the data-skipping input
    for predicates the key bounds can't serve)."""
    import pyarrow.parquet as pq

    cols = [key_col, *(stats_cols or [])]
    staging = os.path.join(base, f"_staging_{uuid.uuid4().hex}")
    try:
        df.write.parquet(staging)
        rows = {
            p: pq.read_metadata(os.path.join(staging, p)).num_rows
            for p in sorted(os.listdir(staging))
            if p.endswith(".parquet") and not p.startswith((".", "_"))
        }
        parts = [p for p, n in rows.items() if n]
        if not parts:
            return []
        m_bits = _bloom_size(max(rows.values()))
        positions = [
            F.expr(_bloom_position_sql(f"`{key_col}`", i, str(m_bits)))
            for i in range(_BLOOM_K)
        ]
        words = (
            df.sparkSession.read.schema(StructType([df.schema[c] for c in cols]))
            .parquet(*(os.path.join(staging, p) for p in parts))
            .select(
                F.col("_metadata.file_name").alias("_f"),
                F.explode(F.array(*positions)).alias("_p"),
                *(F.col(c).alias(f"_c{i}") for i, c in enumerate(cols)),
            )
            .groupBy("_f", (F.col("_p") / 64).cast("long").alias("_w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT)))"
                ).alias("_bits"),
                *(F.min(f"_c{i}").alias(f"_lo{i}") for i in range(len(cols))),
                *(F.max(f"_c{i}").alias(f"_hi{i}") for i in range(len(cols))),
            )
            .collect()
        )
        meta = {
            p: (bytearray(m_bits // 8), [None] * len(cols), [None] * len(cols))
            for p in parts
        }
        seen = set()
        for r in words:
            bloom, lo, hi = meta[r["_f"]]
            seen.add(r["_f"])
            w = r["_bits"] & ((1 << 64) - 1)  # signed long -> raw bits
            bloom[8 * r["_w"] : 8 * r["_w"] + 8] = w.to_bytes(8, "little")
            for i in range(len(cols)):
                lo[i] = _fold(min, lo[i], r[f"_lo{i}"])
                hi[i] = _fold(max, hi[i], r[f"_hi{i}"])
        if seen != set(parts):
            raise RuntimeError(
                f"metadata pass saw no rows of {sorted(set(parts) - seen)} "
                "although their footers count rows; refusing to commit"
            )
        files_dir = os.path.join(base, "files")
        os.makedirs(files_dir, exist_ok=True)
        entries = []
        for p in parts:
            bloom, lo, hi = meta[p]
            final = f"part-{uuid.uuid4().hex}.parquet"
            os.rename(os.path.join(staging, p), os.path.join(files_dir, final))
            entry = {
                "file": final,
                "rows": rows[p],
                "lo": lo[0],
                "hi": hi[0],
                "bloom": bloom.hex(),
                "bloom_m": m_bits,
                "schema_id": schema_id,
            }
            if stats_cols:
                entry["stats"] = {
                    c: [lo[i], hi[i]] for i, c in enumerate(cols) if i
                }
            entries.append(entry)
        return entries
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def publish_snapshot(
    df: DataFrame,
    base: str,
    key_col: str,
    n_files: int | None = None,
    stats_cols: list[str] | None = None,
    cluster_expr=None,
) -> int:
    """Publish ``df`` as a full new snapshot; returns its version. When
    ``n_files`` is given the write is RANGE-CLUSTERED first — on
    ``cluster_expr`` when provided (e.g. a z-order key over two dimensions,
    operators/zorder.py::zorder_key), else on the key — tight per-file
    envelopes are what make file pruning selective. ``stats_cols`` declares
    NON-key columns whose per-file [min, max] envelopes go into every
    manifest entry (here and on every later rewrite): the data-skipping
    input for ``scan_pruned`` predicates the key bounds can't serve."""
    os.makedirs(base, exist_ok=True)
    if n_files:
        ckey = cluster_expr if cluster_expr is not None else F.col(key_col)
        out = (
            df.withColumn("_ck", ckey)
            .repartitionByRange(n_files, F.col("_ck"))
            .sortWithinPartitions("_ck")
            .drop("_ck")
        )
    else:
        out = df
    entries = _ingest_parts(out, base, key_col, 1, stats_cols)
    vs = _versions(base)
    v = (vs[-1] + 1) if vs else 1
    manifest = {
        "key_col": key_col,
        "schema": df.schema.json(),
        "schema_id": 1,
        "columns": _spec_from_schema(df.schema, 1),
        "files": entries,
        "rows": sum(e["rows"] for e in entries),
        "epochs": [],
    }
    if stats_cols:
        manifest["stats_cols"] = stats_cols
    _commit_manifest(base, v, manifest, op="publish")
    return v


def read_snapshot(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (default latest): exactly the manifested
    files — an uncommitted/orphan part can never leak into a read — and
    reconciled per generation to the snapshot's column spec (added columns
    backfill their default on pre-add files; see ``evolve_schema``)."""
    m = read_manifest(base, version)
    return _read_entries(spark, base, m, m["files"])


def read_changes(
    spark: SparkSession, base: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """CHANGE DATA FEED: the row-level changes between two snapshots —
    every row inserted after ``from_version`` (tagged ``_change_type =
    'insert'``) and every row deleted (``'delete'``); an update surfaces
    as its delete+insert pair. The downstream-incremental primitive: a
    consumer that materialized ``from_version`` applies exactly these rows
    to reach ``to_version`` instead of re-reading the table.

    Computed from the manifests' FILE set difference, so only files that
    changed across the span are ever opened — a 0.1% erase on 10k files
    reads the handful of rewritten files, not the table. Within the
    changed files, net row changes are two EXCEPT ALLs (a COW rewrite
    copies the surviving rows into new files; survivors cancel exactly,
    multiplicity included). A pure compaction span nets zero changes by
    the same argument. Both span manifests must still be within vacuum
    retention (their files on disk); ``read_manifest`` raises otherwise.
    """
    m_from = read_manifest(base, from_version)
    m_to = read_manifest(base, to_version)
    if (
        to_version is not None and to_version < from_version
    ):  # pragma: no cover - caller error
        raise ValueError(f"empty span: {from_version} -> {to_version}")
    from_files = {e["file"] for e in m_from["files"]}
    to_files = {e["file"] for e in m_to["files"]}
    by_name = {e["file"]: e for e in m_from["files"] + m_to["files"]}

    def scan(names: set[str]) -> DataFrame:
        # both sides reconcile to the TO-snapshot's column spec (each
        # entry's own write generation decides bytes-vs-default), so a
        # span crossing an evolve_schema diffs in one consistent shape.
        # persist(): each side feeds BOTH exceptAll branches — without it
        # every changed file is scanned twice (the caller's clearCache
        # hygiene reclaims the storage; lifetime spans the returned plan)
        return _read_entries(
            spark, base, m_to, [by_name[n] for n in sorted(names)]
        ).persist()

    added = scan(to_files - from_files)
    removed = scan(from_files - to_files)
    return (
        added.exceptAll(removed)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            removed.exceptAll(added).withColumn("_change_type", F.lit("delete"))
        )
    )


def lookup_rows(spark: SparkSession, base: str, keys: DataFrame) -> DataFrame:
    """Point lookup: the current snapshot's rows whose key is in ``keys``,
    scanning only files whose manifest metadata (bounds + bloom) cannot
    rule the probe out. On a hash-distributed or append-fragmented layout
    the range bounds are all-pass and the BLOOM does the pruning — the
    case per-file min/max fundamentally cannot help with. The scan of the
    surviving files is a plain semi-join (no exact-affected refinement
    needed: a bloom false positive costs one extra file read, never a
    wrong row)."""
    m = read_manifest(base)
    key = m["key_col"]
    k = keys.select(F.col(keys.columns[0]).alias(key)).distinct()
    cand = set(_candidate_files(spark, m, k, key))
    return _read_entries(
        spark, base, m, [e for e in m["files"] if e["file"] in cand]
    ).join(F.broadcast(k), key, "left_semi")


def erase_rows(
    spark: SparkSession, base: str, tombstones: DataFrame, key_col: str | None = None
) -> int:
    """Copy-on-write DELETE: commit a new snapshot in which every row whose
    key appears in ``tombstones`` is gone. Files whose key bounds exclude
    all tombstones are reused BY REFERENCE (never opened); only files that
    actually hold a tombstoned row are rewritten. Returns the new version —
    or the CURRENT version unchanged when nothing matches (idempotent
    re-issue of a deletion request is a no-op, not a new snapshot)."""
    m = read_manifest(base)
    if not m["files"]:
        return _versions(base)[-1]
    key = key_col or m["key_col"]
    if key != m["key_col"]:
        # bounds and blooms in the manifest are built on the PUBLISHED key;
        # pruning on any other column would be unsound (silently missed
        # files). Tombstones on a non-key column must first be resolved to
        # key tombstones (see s_table_erasure_cascade / s_table_changes).
        raise ValueError(
            f"tombstone column {key!r} != table key {m['key_col']!r}"
        )
    tomb = tombstones.select(F.col(tombstones.columns[0]).alias(key))

    # 1. prune candidates from the manifest's bounded stats: per-file key
    # bounds AND per-file blooms, one broadcast join over |files| rows
    cand = _candidate_files(spark, m, tomb, key)
    if not cand:
        return _versions(base)[-1]

    # 2. exact affected files: scan candidates ONLY
    affected = _affected_files(spark, base, m, cand, tomb)
    if not affected:
        return _versions(base)[-1]

    # 3. rewrite survivors of the affected files in one distributed pass
    # (reconciled to the current column spec — a COW rewrite of a pre-add
    # file materializes the evolved schema, like Delta's rewrite path)
    survivors = _read_entries(
        spark, base, m, [e for e in m["files"] if e["file"] in affected]
    ).join(tomb, key, "left_anti")
    new_entries = _ingest_parts(
        survivors, base, key, m.get("schema_id", 1), m.get("stats_cols")
    )

    # 4. the commit: untouched entries verbatim + replacements; the
    # manifest replace is the single visibility flip (the epoch registry
    # survives every commit kind: an erase or merge mid-stream must not
    # reopen replayed appends)
    entries = [e for e in m["files"] if e["file"] not in affected] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(base, v, _carry(m, entries), op="erase")
    return v


def append_rows(df: DataFrame, base: str, epoch: str | None = None) -> int:
    """Atomic APPEND: new data files + a manifest that unions them with the
    current snapshot's list. With ``epoch`` set, the append is IDEMPOTENT
    under replay: an epoch tag already recorded in the manifest makes the
    call a no-op returning the current version — the exactly-once
    discipline a streaming foreachBatch sink needs (a retried micro-batch
    must not double its rows)."""
    m = read_manifest(base)
    if epoch is not None and epoch in m.get("epochs", []):
        return _versions(base)[-1]
    cols = _columns_of(m)
    if cols is not None:
        df = df.select(
            *[F.col(c["name"]).cast(c["type"]).alias(c["name"]) for c in cols]
        )
    new_entries = _ingest_parts(
        df, base, m["key_col"], m.get("schema_id", 1), m.get("stats_cols")
    )
    entries = m["files"] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(
        base,
        v,
        _carry(
            m,
            entries,
            m.get("epochs", []) + ([epoch] if epoch is not None else []),
        ),
        op="append",
    )
    return v


def merge_rows(
    spark: SparkSession,
    base: str,
    source: DataFrame,
    order_cols: list[str] | None = None,
    epoch: str | None = None,
) -> int:
    """Atomic MERGE / upsert: rows of ``source`` REPLACE current rows with
    the same key; source keys absent from the table are inserts. One
    snapshot commit covers both — the storage-level transactional form of
    ``operators/merge.py::merge_upsert`` (which computes the merged
    RELATION; this commits it with copy-on-write file granularity). The
    delete half reuses erase_rows' plan shape: bounds+bloom-prune candidate
    files against the source keys, rewrite only files holding a matched
    key, reference the rest verbatim; the insert half is one staged write
    of the full source. A crash anywhere before the manifest replace
    leaves the old snapshot intact and only orphan files behind.

    ``order_cols`` turns the unconditional replace into a CONDITIONAL
    newer-wins merge (CDC apply): a source row replaces the table row of
    the same key only when its ``order_cols`` tuple is STRICTLY greater
    (struct comparison, ties keep the table row); duplicate keys inside
    ``source`` collapse to the per-key maximum first. This makes the merge
    a join-semilattice on (key -> max tuple): applying update batches in
    ANY order — including the out-of-order delivery a distributed CDC feed
    actually produces — converges to the same last-writer-wins table.

    ``epoch`` gives the merge the same replay idempotence as
    ``append_rows``: an epoch tag already in the manifest makes the call a
    recognized no-op — the exactly-once contract a streaming foreachBatch
    upsert sink needs."""
    m = read_manifest(base)
    if epoch is not None and epoch in m.get("epochs", []):
        return _versions(base)[-1]
    key = m["key_col"]
    if order_cols:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        source = (
            source.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    src_keys = source.select(key)

    affected = _affected_files(
        spark, base, m, _candidate_files(spark, m, src_keys, key), src_keys
    )

    schema = StructType.fromJson(json.loads(m["schema"]))
    cols = schema.fieldNames()
    affected_entries = [e for e in m["files"] if e["file"] in affected]
    if affected and order_cols:
        # winner set per KEY, not per table row: the table may legally
        # hold several rows for a key (append never dedupes), and a
        # full-outer row-level compare would fan the single winning
        # source row out once per table copy. A source row wins its key
        # when it beats the key's MAX table tuple; winning keys have all
        # their table copies replaced by the one source row, losing /
        # absent-from-source keys keep every copy.
        table = _read_entries(spark, base, m, affected_entries)
        t_max = table.groupBy(key).agg(
            F.max(F.struct(*[F.col(c) for c in order_cols])).alias("_t")
        )
        src = source.select(*cols)
        s_tuple = F.struct(*[F.col(c) for c in order_cols])
        winners = (
            src.join(t_max, key, "left")
            .filter(F.col("_t").isNull() | (s_tuple > F.col("_t")))
            .drop("_t")
        )
        out = table.join(
            winners.select(key).distinct(), key, "left_anti"
        ).unionByName(winners)
    elif affected:
        survivors = _read_entries(spark, base, m, affected_entries).join(
            src_keys, key, "left_anti"
        )
        out = survivors.unionByName(source.select(*survivors.columns))
    else:
        out = source.select(*cols)
    # written in the table's own types, like append_rows: readers type the
    # files from the manifest, and the key's bloom must hash the type the
    # probe casts to
    out = out.select(*(F.col(f.name).cast(f.dataType) for f in schema.fields))
    new_entries = _ingest_parts(
        out, base, key, m.get("schema_id", 1), m.get("stats_cols")
    )

    entries = [e for e in m["files"] if e["file"] not in affected] + new_entries
    v = _versions(base)[-1] + 1
    _commit_manifest(
        base,
        v,
        _carry(
            m,
            entries,
            m.get("epochs", []) + ([epoch] if epoch is not None else []),
        ),
        op="merge",
    )
    return v


def compact_snapshot(
    spark: SparkSession, base: str, target_file_bytes: int = 128 << 20
) -> int:
    """Transactional OPTIMIZE: bin-pack the current snapshot's small files
    into ~``target_file_bytes`` files, committed as a new snapshot that is
    CONTENT-IDENTICAL (pure file rewrite — the lakehouse answer to the
    small-files problem a streaming append sink creates; readers of the
    old snapshot are never blocked, and the superseded parts stay on disk
    for them until vacuum). Range-clusters on the key while rewriting, so
    compaction also restores tight per-file bounds for later erases.
    Returns the new version; a snapshot that is already one file (or
    empty) is left alone."""
    m = read_manifest(base)
    files_dir = os.path.join(base, "files")
    if len(m["files"]) <= 1:
        return _versions(base)[-1]
    total = sum(
        os.path.getsize(os.path.join(files_dir, e["file"])) for e in m["files"]
    )
    n_files = max(1, -(-total // target_file_bytes))
    if n_files >= len(m["files"]):
        return _versions(base)[-1]
    entries = _ingest_parts(
        read_snapshot(spark, base).repartitionByRange(
            n_files, F.col(m["key_col"])
        ),
        base,
        m["key_col"],
        m.get("schema_id", 1),
        m.get("stats_cols"),
    )
    v = _versions(base)[-1] + 1
    _commit_manifest(base, v, _carry(m, entries), op="compact")
    return v


def retry_on_conflict(op, retries: int = 5):
    """Optimistic-concurrency driver: run ``op`` (a zero-arg closure over
    one DML call — erase_rows/append_rows/merge_rows/compact_snapshot),
    retrying on :class:`CommitConflict`. Safe because every DML function
    re-reads the CURRENT manifest at entry, so a retry replans against
    the winner's snapshot rather than replaying a stale one; a conflicted
    attempt's already-ingested parts become orphans vacuum collects (the
    same crash-orphan class the commit protocol already tolerates)."""
    for attempt in range(retries):
        try:
            return op()
        except CommitConflict:
            if attempt == retries - 1:
                raise


# --- Snapshot tags ------------------------------------------------------------

_TAGS = "tags.json"


def tag_snapshot(base: str, name: str, version: int | None = None) -> int:
    """Pin a named TAG to a snapshot (default: the current one) — the
    provenance primitive a training pipeline needs: 'model X trained on
    tag run-2026-08'. Tagged snapshots are excluded from vacuum's
    retention sweep, so the exact bytes a model saw stay reproducible
    until the tag is deleted (``untag_snapshot``), however many newer
    versions land. Tag updates are last-write-wins via atomic replace
    (tags are operator-issued, not racing writers). Returns the tagged
    version."""
    vs = _versions(base)
    v = version if version is not None else vs[-1]
    if v not in vs:
        raise FileNotFoundError(f"snapshot v={v} not in {vs}")
    tags = read_tags(base)
    tags[name] = v
    _write_tags(base, tags)
    return v


def untag_snapshot(base: str, name: str) -> None:
    tags = read_tags(base)
    tags.pop(name, None)
    _write_tags(base, tags)


def _write_tags(base: str, tags: dict[str, int]) -> None:
    tmp = os.path.join(base, f"{_TAGS}.tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(tags, fh)
    os.replace(tmp, os.path.join(base, _TAGS))


def read_tags(base: str) -> dict[str, int]:
    try:
        with open(os.path.join(base, _TAGS)) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}
    except FileNotFoundError:
        return {}


def resolve_tag(base: str, name: str) -> int:
    """The version a tag points at — pass to ``read_snapshot``."""
    tags = read_tags(base)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} under {base} (have {sorted(tags)})")
    return tags[name]


def vacuum(
    base: str, keep_versions: int = 1, retain_seconds: float | None = None
) -> list[str]:
    """Physically drop everything no KEPT snapshot references: old
    manifests beyond the retention, their exclusive data files, and any
    orphan parts from crashed commits or staging. Until vacuum runs, every
    retained snapshot stays readable — the audit window between logical
    deletion (erase_rows commit) and physical destruction. TAGGED
    snapshots are always kept (reproducibility pins outrank retention),
    and ``retain_seconds`` additionally keeps every snapshot committed
    within that window (the time-based retention SLA real formats express
    as RETAIN n HOURS — timestamp time travel stays answerable across the
    whole window). Returns the deleted file names."""
    import time

    vs = _versions(base)
    keep = vs[-keep_versions:] if keep_versions > 0 else []
    keep = sorted(set(keep) | (set(read_tags(base).values()) & set(vs)))
    if retain_seconds is not None:
        horizon = time.time() - retain_seconds
        keep = sorted(
            set(keep)
            | {
                v
                for v in vs
                if (read_manifest(base, v).get("committed_at") or 0) >= horizon
            }
        )
    referenced: set[str] = set()
    for v in keep:
        referenced.update(e["file"] for e in read_manifest(base, v)["files"])
    removed = []
    files_dir = os.path.join(base, "files")
    if os.path.isdir(files_dir):
        for f in os.listdir(files_dir):
            if f not in referenced:
                os.remove(os.path.join(files_dir, f))
                removed.append(f)
    for v in vs:
        if v not in keep:
            os.remove(_manifest_path(base, v))
            removed.append(f"v={v}.manifest.json")
    for d in os.listdir(base):
        if d.startswith("_staging_"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            removed.append(d)
        elif ".tmp." in d:
            # a crash between CAS link and tmp unlink leaves the tmp copy
            os.remove(os.path.join(base, d))
            removed.append(d)
    return removed


def scan_pruned(
    spark: SparkSession, base: str, ranges: dict[str, tuple]
) -> DataFrame:
    """DATA-SKIPPING scan: read only files whose recorded envelopes can
    intersect every ``col -> (lo, hi)`` range (either bound may be None =
    open). The key column prunes on the entry's [lo, hi] bounds; any
    column declared in ``publish_snapshot(stats_cols=...)`` prunes on its
    per-file stats envelope; columns without stats never prune (sound).
    The pruning pass is a driver-side sweep of manifest METADATA —
    O(|files| x |ranges|), no data touched — and the survivors come back
    reconciled to the current column spec; the caller applies the exact
    predicate to the returned rows (skipping is containment-based, so a
    kept file may still hold non-matching rows).

    Layout matters: with a z-order clustered publish
    (cluster_expr=operators/zorder.py::zorder_key(x, y)) each file owns a
    contiguous z-range, i.e. a bounded rectangle union in (x, y) space —
    so BOTH dimensions' envelopes are tight and a 2-D box predicate
    prunes on either column; a single-column range clustering serves only
    its leading column."""
    m = read_manifest(base)
    key = m["key_col"]
    keep = []
    for e in m["files"]:
        ok = True
        for c, (lo, hi) in ranges.items():
            if c == key:
                flo, fhi = e["lo"], e["hi"]
            else:
                st = (e.get("stats") or {}).get(c)
                if st is None:
                    continue
                flo, fhi = st
            if flo is None or fhi is None:
                continue
            if (lo is not None and fhi < lo) or (hi is not None and flo > hi):
                ok = False
                break
        if ok:
            keep.append(e)
    return _read_entries(spark, base, m, keep)


def table_history(spark: SparkSession, base: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained snapshot — version,
    operation kind, commit wall-clock, row/file counts, schema generation.
    Pure manifest metadata (no data file is opened); after a vacuum only
    the retained versions remain, which is exactly the auditable window."""
    rows = []
    for v in _versions(base):
        m = read_manifest(base, v)
        rows.append(
            (
                v,
                m.get("op", "commit"),
                m.get("committed_at"),
                m["rows"],
                len(m["files"]),
                m.get("schema_id", 1),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, committed_at double, n_rows long, "
        "n_files long, schema_id long",
    )


def version_as_of(base: str, ts: float) -> int:
    """TIME TRAVEL by timestamp: the latest retained version committed at
    or before ``ts`` (epoch seconds) — pass the result to
    ``read_snapshot``. Raises if ``ts`` predates the oldest retained
    commit (vacuum may have dropped the version that was current then —
    answering with a LATER snapshot would be silently wrong)."""
    best = None
    for v in _versions(base):
        at = read_manifest(base, v).get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"no retained snapshot at or before ts={ts} under {base}"
        )
    return best
