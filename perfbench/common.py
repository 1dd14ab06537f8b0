"""Shared constants and paths of the benchmark."""

from __future__ import annotations

import hashlib
import importlib.util
import os

HERE = os.path.dirname(os.path.abspath(__file__))
#: Root of the checkout: the benchmark lives one directory below it.
ROOT = os.path.dirname(HERE)
PACKAGE = "bridge_analytics_template_spark"
#: Build outputs and per-run scratch; ignored by git.
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

#: The two read workloads: registered query names, run in a seed-permuted
#: order each pass.
READ_WORKLOADS = {
    "etl_relational": [
        "flagship",
        "pricing_summary",
        "join_inner",
        "join_sort_merge",
        "join_asof",
        "agg_rollup",
        "w_running_sum",
        "t_tumbling_counts",
        "t_session_islands",
        "bridge_coercion",
        "bridge_file_view",
        "bridge_validate",
        "bridge_quarantine",
        "star_join_revenue",
        "q_market_share",
        "q_yoy_growth",
    ],
    "llm_curation": [
        "llm_dedup_exact",
        "llm_dedup_minhash",
        "llm_ngram_jaccard",
        "llm_dedup_clusters",
        "llm_quality_score",
        "llm_knn_ids",
        "train_vocab_encode",
        "llm_decontaminate",
        "llm_chunking",
        "llm_repetition",
        "llm_doc_lm_score",
        "llm_embed_neardup",
    ],
}
WORKLOADS = [*READ_WORKLOADS, "lakehouse_write"]


def check_oracle():
    """The repository's oracle comparator module (``tools/check_oracle.py``)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_dir(sf: float) -> str:
    """Cache directory of one fixture identity: the scale, the generator and
    build code, the list of queries it resolves (this module), the comparator
    that normalizes the stored answers, and the query modules that hold the
    oracle SQL."""
    h = hashlib.sha256(repr(sf).encode())
    sources = [os.path.join(HERE, f) for f in ("fixtures.py", "prepare.py", "common.py")]
    sources.append(os.path.join(ROOT, "tools", "check_oracle.py"))
    qdir = os.path.join(ROOT, PACKAGE, "queries")
    sources += sorted(
        os.path.join(qdir, f) for f in os.listdir(qdir) if f.endswith(".py")
    )
    for p in sources:
        with open(p, "rb") as f:
            h.update(f.read())
    return os.path.join(BUILD_DIR, f"fx-{sf:g}-{h.hexdigest()[:12]}")
