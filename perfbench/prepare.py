"""Build step: generate the fixtures and resolve the read queries' oracles.

Usage: ``python3 perfbench/prepare.py <out_dir> <sf>``

Writes ``<out_dir>/data/*.parquet`` (see ``fixtures.py``) and
``<out_dir>/expected.pkl``: for every read query the benchmark runs, the
normalized ``(columns, rows)`` answer of its registered DuckDB oracle over
those fixtures. The run step compares each Spark result against it, so the
oracles (minutes at larger scales) run once per fixture identity instead of
once per run. ``<out_dir>/sizes.json`` records each table's rows and bytes.

Runs in its own process so DuckDB's memory never counts toward the
benchmark's peak RSS.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time

import duckdb

from common import READ_WORKLOADS, ROOT, check_oracle
from fixtures import generate


def resolve_expected(data_dir: str, names: list[str]) -> dict:
    from bridge_analytics_template_spark.catalog import TABLES, table_path
    from bridge_analytics_template_spark.queries import ORACLES

    oc = check_oracle()
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
        )
    out = {}
    for name in names:
        sql = ORACLES[name]
        if not isinstance(sql, str):
            raise SystemExit(f"{name}: no plain-SQL oracle registered")
        t0 = time.perf_counter()
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = oc.frame_to_rows(cols, cur.fetchall())
        print(f"oracle {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    con.close()
    return out


def main() -> int:
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    sys.path.insert(0, ROOT)
    data_dir = os.path.join(out_dir, "data")
    sizes = generate(data_dir, sf)
    names = [q for qs in READ_WORKLOADS.values() for q in qs]
    expected = resolve_expected(data_dir, names)
    with open(os.path.join(out_dir, "expected.pkl"), "wb") as f:
        pickle.dump(expected, f)
    with open(os.path.join(out_dir, "sizes.json"), "w") as f:
        json.dump(sizes, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
