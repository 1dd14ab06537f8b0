"""Pin the r11 llm_ann_recall_report restructure (VERDICT r10 next #1).

The query moved from four serial per-method join+crossJoin+aggregate
report branches to: five ANN pipelines built and materialized on driver
threads (bounded |Q|*k fetches — the probe set is already driver-collected
by the brute/PQ precondition), exact set-intersection hit counts, one
local 4-row result. Values must be identical to the serial join+aggregate
form, which tools/experiments_r11.py preserves verbatim.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def test_threaded_report_matches_serial_form(spark):
    from bridge_analytics_template_spark.queries import QUERIES
    from tools.experiments_r11 import recall_report_serial

    q = QUERIES["llm_ann_recall_report"]
    fn = getattr(q, "__wrapped__", q)
    sf = "/root/testdata/sf0.01"
    new = fn(spark, sf)
    old = recall_report_serial(spark, sf)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert new.subtract(old).count() == 0
    assert old.subtract(new).count() == 0
    got = new.collect()
    assert [r["method"] for r in got] == ["ivf", "ivfpq", "lsh", "pq"]
    assert all(r["n_brute"] > 0 for r in got)
    assert all(0.0 <= r["recall_at_5"] <= 1.0 for r in got)
    spark.catalog.clearCache()


def test_duplicate_pair_in_a_method_raises(spark, sf_dir, monkeypatch):
    """Hit counts are set intersections over (query_id, neighbor_id): a
    method emitting the same pair twice would be collapsed silently and
    change its recall, so the report raises instead. Every method is
    stubbed with a tiny top-k frame; only ``lsh`` repeats a pair."""
    from bridge_analytics_template_spark.llm import pq, similarity
    from bridge_analytics_template_spark.queries import QUERIES
    from bridge_analytics_template_spark.queries import llm as llm_queries

    def topk(*pairs):
        frame = spark.createDataFrame(list(pairs), "query_id long, neighbor_id long")
        return lambda q, e, k: frame

    unique = topk((0, 1), (0, 2), (50, 3))
    for mod, name in [
        (llm_queries, "knn_bruteforce_np"),
        (similarity, "ivf_knn"),
        (pq, "pq_knn"),
        (pq, "ivfpq_knn"),
    ]:
        monkeypatch.setattr(mod, name, unique)
    q = QUERIES["llm_ann_recall_report"]
    fn = getattr(q, "__wrapped__", q)

    monkeypatch.setattr(llm_queries, "knn_lsh", topk((0, 1), (50, 3)))
    got = {r["method"]: r["n_hits"] for r in fn(spark, sf_dir).collect()}
    assert got == {"ivf": 3, "ivfpq": 3, "lsh": 2, "pq": 3}

    monkeypatch.setattr(llm_queries, "knn_lsh", topk((0, 1), (0, 1), (50, 3)))
    with pytest.raises(ValueError, match="lsh: duplicate"):
        fn(spark, sf_dir)
