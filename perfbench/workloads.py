"""The three workloads. Each runs one *pass* at a time: a closed loop with one
client, building and executing one operation after the other on the driver
thread. Every operation's output is checked right after it, outside its
timed region; a raised exception or a wrong answer counts as a failed
operation.

* ``etl_relational`` and ``llm_curation`` run their registered queries in a
  seed-permuted order. An operation is the registered callable (plan build,
  including any jobs the build blocks on) followed by ``collect()``, which
  computes every column of every row and returns the rows the check
  compares against the query's DuckDB oracle answer.
* ``lakehouse_write`` runs, in a fresh directory each pass: publish
  lineitem as a 16-file manifest table, a seeded merge, a seeded erase, a
  seeded 4-shard streaming append, compaction, an ``{app}/{study}``
  partitioned write of orders, and aggregate reads of both. After each
  step the table (or sink) on disk is compared with a DuckDB replay of the
  same batches.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Pass:
    seconds: float = 0.0  # sum of the operations' timed regions
    attempted: int = 0
    failed: int = 0
    op_seconds: dict = field(default_factory=dict)
    #: (start, end, op_key, phase) of each build/action, for job attribution
    windows: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)


class Context:
    """What every workload needs: the session, run id, fixture directory,
    scratch directory, the oracle comparator module, the planted-defect
    switch of the self-test, and the tracer while a pass is traced."""

    def __init__(self, spark, run_id, data_dir, scratch, oc, plant=None):
        self.spark = spark
        self.run_id = run_id
        self.data_dir = data_dir
        self.scratch = scratch
        self.oc = oc
        self.plant = plant
        self.tracer = None

    def span(self, name: str, layer: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, **attrs)

    def phase(self, p: Pass, op_key: str, phase: str, name: str, fn):
        """Run ``fn`` as one phase of an operation: own job group, own span,
        own timing. Returns (seconds, result)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{op_key}/{phase}", name)
        layer = "queries" if phase == "build" else "spark"
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.span(f"{layer}.{phase}", layer, op=name):
                result = fn()
        finally:
            dt = time.perf_counter() - t0
            p.windows.append((w0, time.time(), op_key, phase))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return dt, result

    def compare(self, expected, cols, rows) -> list[str]:
        """The repository comparator (``tools/check_oracle.py``) on one
        result; the self-test's planted defect is applied to the result
        first."""
        rows = [tuple(r) for r in rows]
        if self.plant == "drop_row" and rows:
            rows = rows[:-1]
        elif self.plant == "flip_value" and rows:
            r = list(rows[0])
            i = next((i for i, v in enumerate(r) if v is not None), 0)
            v = r[i]
            r[i] = v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}x"
            rows[0] = tuple(r)
        scols, svals = self.oc.frame_to_rows(list(cols), rows)
        ok, msgs = self.oc.compare_frames(scols, svals, *expected)
        return [] if ok else msgs


def _fail(p: Pass, name: str, why: str) -> None:
    p.failed += 1
    print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)


class ReadWorkload:
    def __init__(self, ctx: Context, names: list[str], expected: dict):
        from bridge_analytics_template_spark.queries import QUERIES

        self.ctx = ctx
        self.names = names
        self.expected = expected
        self.queries = QUERIES

    def run_pass(self, idx: int, rng: np.random.Generator) -> Pass:
        ctx, p = self.ctx, Pass()
        spark = ctx.spark
        for i, name in enumerate(rng.permutation(self.names)):
            name = str(name)
            op_key = f"{ctx.run_id}/{idx}/{i}-{name}"
            p.attempted += 1
            try:
                with ctx.span(f"op.{name}", "bench"):
                    fn = self.queries[name]
                    tb, df = ctx.phase(p, op_key, "build", name,
                                       lambda: fn(spark, ctx.data_dir))
                    te, rows = ctx.phase(p, op_key, "exec", name, df.collect)
                p.op_seconds[name] = tb + te
                p.seconds += tb + te
                msgs = ctx.compare(self.expected[name], df.columns, rows)
                if msgs:
                    _fail(p, name, "; ".join(msgs)[:500])
            except Exception:
                _fail(p, name, traceback.format_exc(limit=4))
            finally:
                spark.catalog.clearCache()
        return p


#: Table key of the lakehouse workload; linenumber never exceeds 7.
KEY = "lkey"
STEPS = ["publish", "merge", "erase", "stream", "compact", "sink", "read"]


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class LakehouseWorkload:
    def __init__(self, ctx: Context):
        from bridge_analytics_template_spark import catalog
        from bridge_analytics_template_spark.sources import manifest_table, sink
        from bridge_analytics_template_spark.streaming import ingest

        self.ctx = ctx
        self.catalog, self.mt, self.sink, self.ingest = catalog, manifest_table, sink, ingest
        self.line_path = os.path.join(ctx.data_dir, "lineitem.parquet")
        self.orders_path = os.path.join(ctx.data_dir, "orders.parquet")
        line = pq.read_table(self.line_path)
        self.line = line.append_column(
            KEY,
            pa.array(
                line["l_orderkey"].to_numpy() * 8 + line["l_linenumber"].to_numpy(),
                pa.int64(),
            ),
        )
        self.cols = self.line.column_names
        self.con = duckdb.connect(
            config={"threads": len(os.sched_getaffinity(0)), "memory_limit": "1GB"}
        )

    # -- seeded inputs ---------------------------------------------------------

    def _batches(self, d: str, rng: np.random.Generator) -> dict[str, str]:
        """Merge (updates of ~1.5% of rows plus inserts), erase (~1.5% of
        keys) and append (~1% new rows) batches, as parquet under ``d``."""
        n = self.line.num_rows
        keys = self.line[KEY].to_numpy()
        next_order = int(self.line["l_orderkey"].to_numpy().max()) + 1

        def put(t: pa.Table, name: str, values) -> pa.Table:
            i = t.column_names.index(name)
            return t.set_column(i, name, pa.array(values, t.schema.field(name).type))

        def fresh(m: int, first_order: int) -> pa.Table:
            """``m`` rows with new keys: copies of random rows, renumbered as
            new orders of 7 lines each (so keys cover every residue the
            4-shard stream split uses)."""
            okey = first_order + np.arange(m, dtype=np.int64) // 7
            lnum = (np.arange(m) % 7 + 1).astype(np.int32)
            rows = put(self.line.take(rng.integers(0, n, m)), "l_orderkey", okey)
            rows = put(rows, "l_linenumber", lnum)
            return put(rows, KEY, okey * 8 + lnum)

        n_merge = int(n * rng.uniform(0.01, 0.02))
        n_upd = n_merge * 4 // 5
        upd = self.line.take(rng.choice(n, n_upd, replace=False))
        qty = rng.integers(1, 51, n_upd).astype(np.float64)
        upd = put(upd, "l_quantity", qty)
        upd = put(upd, "l_extendedprice", np.round(qty * rng.uniform(900, 2100, n_upd), 2))
        merge = pa.concat_tables([upd, fresh(n_merge - n_upd, next_order)])
        live = np.concatenate([keys, merge[KEY].to_numpy()[n_upd:]])
        n_erase = int(n * rng.uniform(0.01, 0.02))
        erase = pa.table({KEY: rng.choice(live, n_erase, replace=False)})
        append = fresh(int(n * rng.uniform(0.005, 0.015)), next_order + n_merge // 7 + 1)
        paths = {}
        os.makedirs(d, exist_ok=True)
        for name, t in (("merge", merge), ("erase", erase), ("append", append)):
            paths[name] = os.path.join(d, f"{name}.parquet")
            pq.write_table(t, paths[name])
        return paths

    # -- replay and checks -----------------------------------------------------

    def _replay(self, step: str, batch: dict[str, str]) -> None:
        con = self.con
        if step == "publish":
            con.execute(
                f"CREATE OR REPLACE TABLE state AS SELECT *, l_orderkey * 8 + l_linenumber "
                f"AS {KEY} FROM read_parquet('{self.line_path}')"
            )
        elif step == "merge":
            m = batch["merge"]
            con.execute(
                f"CREATE OR REPLACE TABLE state AS SELECT * FROM state WHERE {KEY} NOT IN "
                f"(SELECT {KEY} FROM read_parquet('{m}')) UNION ALL "
                f"SELECT * FROM read_parquet('{m}')"
            )
        elif step == "erase":
            con.execute(
                f"DELETE FROM state WHERE {KEY} IN (SELECT {KEY} FROM read_parquet('{batch['erase']}'))"
            )
        elif step == "stream":
            con.execute(f"INSERT INTO state SELECT * FROM read_parquet('{batch['append']}')")

    def _expected_state(self) -> str:
        """Name of the relation the table must equal, with the planted defect
        of the self-test applied."""
        if self.ctx.plant == "drop_row":
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW expected AS SELECT * FROM state "
                f"WHERE {KEY} <> (SELECT min({KEY}) FROM state)"
            )
            return "expected"
        if self.ctx.plant == "flip_value":
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW expected AS SELECT * REPLACE "
                f"(CASE WHEN {KEY} = (SELECT min({KEY}) FROM state) THEN l_quantity + 1 "
                f"ELSE l_quantity END AS l_quantity) FROM state"
            )
            return "expected"
        return "state"

    def _fingerprint(self, relation: str, cols: list[str]) -> tuple:
        """Row count and order-independent sum of row hashes: equal for
        equal multisets of rows, values and column types."""
        return self.con.execute(
            f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) FROM ({relation})"
        ).fetchone()

    def _same(self, actual_sql: str, expected: str, cols: list[str], what: str) -> list[str]:
        got = self._fingerprint(actual_sql, cols)
        want = self._fingerprint(f"SELECT * FROM {expected}", cols)
        if got == want:
            return []
        return [f"{what} differs from the replay ({got[0]} rows, expected {want[0]})"]

    def _check_table(self, base: str) -> tuple[list[str], dict]:
        m = self.mt.read_manifest(base)
        files = [os.path.join(base, "files", e["file"]) for e in m["files"]]
        expected = self._expected_state()
        if files:
            actual = f"SELECT * FROM read_parquet({files!r})"
        else:
            actual = "SELECT * FROM state LIMIT 0"
        msgs = self._same(actual, expected, self.cols, "table")
        want = self.con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
        if m["rows"] != want:
            msgs.append(f"manifest rows {m['rows']} != replay rows {want}")
        return msgs, m

    def _check_sink(self, sink_dir: str) -> list[str]:
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority", "app", "study"]
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW sink_expected AS SELECT *, o_orderpriority AS app, "
            f"o_orderstatus AS study FROM read_parquet('{self.orders_path}')"
        )
        actual = (
            f"SELECT * REPLACE (CAST(app AS VARCHAR) AS app, CAST(study AS VARCHAR) AS study) "
            f"FROM read_parquet('{sink_dir}/*/*/*.parquet', hive_partitioning = true)"
        )
        return self._same(actual, "sink_expected", cols, "sink")

    READ_TABLE_SQL = (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS price FROM state "
        "GROUP BY l_returnflag, l_linestatus"
    )
    READ_SINK_SQL = (
        "SELECT app, study, count(*) AS n, "
        "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM sink_expected "
        "GROUP BY app, study"
    )

    def _expected_rows(self, sql: str):
        cur = self.con.execute(sql)
        return self.ctx.oc.frame_to_rows([d[0] for d in cur.description], cur.fetchall())

    # -- the pass --------------------------------------------------------------

    def _read_back(self, base: str, sink_dir: str):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        dec = "decimal(18,2)"
        t = self.mt.read_snapshot(spark, base).groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(dec)).alias("qty"),
            F.sum(F.col("l_extendedprice").cast(dec)).alias("price"),
        )
        s = self.sink.read_partitioned(spark, sink_dir).groupBy("app", "study").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(dec)).alias("total"),
        )
        return (t.columns, t.collect()), (s.columns, s.collect())

    def run_pass(self, idx: int, rng: np.random.Generator) -> Pass:
        from pyspark.sql import functions as F

        ctx, p = self.ctx, Pass()
        spark, mt = ctx.spark, self.mt
        d = os.path.join(ctx.scratch, f"lakehouse-{idx}")
        base, sink_dir = os.path.join(d, "table"), os.path.join(d, "sink")
        batch = self._batches(os.path.join(d, "in"), rng)
        line = self.catalog.load(spark, ctx.data_dir, "lineitem").withColumn(
            KEY, F.col("l_orderkey") * 8 + F.col("l_linenumber")
        )
        orders = self.catalog.load(spark, ctx.data_dir, "orders")
        steps = {
            "publish": lambda: mt.publish_snapshot(line, base, KEY, n_files=16),
            "merge": lambda: mt.merge_rows(spark, base, spark.read.parquet(batch["merge"])),
            "erase": lambda: mt.erase_rows(spark, base, spark.read.parquet(batch["erase"])),
            "stream": lambda: self.ingest.stream_append_table(
                spark, spark.read.parquet(batch["append"]), os.path.join(d, "stream"),
                base, KEY, n_shards=4,
            ),
            "compact": lambda: mt.compact_snapshot(spark, base),
            "sink": lambda: self.sink.write_partitioned(
                orders.withColumn("app", F.col("o_orderpriority")).withColumn(
                    "study", F.col("o_orderstatus")
                ),
                sink_dir,
            ),
            "read": lambda: self._read_back(base, sink_dir),
        }
        before = None
        rewrite = {"files_rewritten": 0, "files_reused": 0, "rows_changed": 0, "rows_rewritten": 0}
        for i, step in enumerate(STEPS):
            op_key = f"{ctx.run_id}/{idx}/{i}-{step}"
            p.attempted += 1
            try:
                with ctx.span(f"op.{step}", "bench"):
                    dt, out = ctx.phase(p, op_key, "exec", step, steps[step])
                p.op_seconds[step] = dt
                p.seconds += dt
                self._replay(step, batch)
                if step == "sink":
                    msgs = self._check_sink(sink_dir)
                elif step == "read":
                    (tc, tr), (sc_, sr) = out
                    msgs = ctx.compare(self._expected_rows(self.READ_TABLE_SQL), tc, tr)
                    msgs += ctx.compare(self._expected_rows(self.READ_SINK_SQL), sc_, sr)
                else:
                    msgs, after = self._check_table(base)
                    if step in ("merge", "erase") and before is not None:
                        self._rewrite_stats(rewrite, before, after, step, batch)
                    before = after
                if msgs:
                    _fail(p, step, "; ".join(msgs))
            except Exception:
                _fail(p, step, traceback.format_exc(limit=4))
        in_bytes = sum(os.path.getsize(f) for f in (self.line_path, self.orders_path, *batch.values()))
        out_bytes = _dir_bytes(base) + _dir_bytes(sink_dir)
        p.stats.update(rewrite, input_bytes=in_bytes, bytes_written=out_bytes,
                       write_amp=out_bytes / in_bytes)
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()
        return p

    def _rewrite_stats(self, acc: dict, before: dict, after: dict, step: str, batch) -> None:
        """Files rewritten vs reused by a merge or erase, and the share of
        rows in the rewritten files that the operation actually changed."""
        old = {e["file"]: e["rows"] for e in before["files"]}
        new = {e["file"]: e["rows"] for e in after["files"]}
        gone = [f for f in old if f not in new]
        added_rows = sum(r for f, r in new.items() if f not in old)
        rewritten_rows = sum(old[f] for f in gone)
        carried = added_rows
        if step == "merge":
            carried -= pq.read_metadata(batch["merge"]).num_rows
        acc["files_rewritten"] += len(gone)
        acc["files_reused"] += len(old) - len(gone)
        acc["rows_rewritten"] += rewritten_rows
        acc["rows_changed"] += rewritten_rows - carried
