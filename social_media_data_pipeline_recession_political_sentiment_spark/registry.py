"""Query + oracle registry backing the driver contract.

Every implemented operator from SURVEY.md §2 registers here as
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet
tables. Column names/aliases MUST match between the two sides —
the driver's compare hashes values after sorting columns by name.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = (
    "operators.relational",
    "operators.scalar_fns",
    "operators.dedup",
    "operators.similarity",
    "operators.text_analysis",
    "operators.multimodal",
    "enrich.sentiment",
    "enrich.hatespeech",
    "sources.rest_json",
    "sources.sinks",
    "streaming.queries",
    "streaming.ingest",
    "plans.pipeline",
    "dashboard",
)


def register(name: str, oracle: Optional[str] = None):
    """Decorator: register a query function and (optionally) its DuckDB
    oracle SQL. ``oracle=None`` => driver records a rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's CORRECTNESS report hard-checks only the FIRST 50 queries
# in registration order. Queries named here are emitted first (in this
# order) by queries()/oracles(); everything else follows in registration
# order.
# ROTATION RULE: front-load (1) anything added or rewritten since the
# last round, (2) the queries whose last hard check is oldest;
# tests/test_registry.py locks the list against typos.
_WINDOW_PRIORITY = (
    # -- r13 overflow rewrites (held fresh r11/r12 checks; certified
    #    locally in r13, hard-checked here) --
    "ext_sim_lsh_recall",
    "ext_sim_hamming_pairs",
    "ext_sim_hamming_components",
    # -- r14 rewrites (plan changed this round) --
    "ext_dedup_components",
    "ext_mm_phash_cluster",
    "ext_sim_ivf_exhaustive",
    "ext_sim_lsh",
    "ext_dedup_embcos_pipeline_recall",
    "ext_lm_bigram_score",
    "ext_retrieval_eval",
    "ext_dedup_weighted_jaccard",
    "ext_graph_pagerank",
    "ext_keywords_textrank",
    # -- r14 pin-plan-affected consumers (wi/tw pin columns; census
    #    aggregated from the pinned doc-carried instance stream) --
    "ext_dedup_ngram_jaccard",
    "ext_dedup_containment",
    "ext_dedup_edit_distance",
    "ext_dedup_minhash_est_audit",
    "ext_bigram_pmi",
    "ext_token_entropy_rate",
    # -- the r7 evidence tier, registration order, filling 50 --
    "join_scd2_dim",
    "agg_quantiles_exact_dist",
    "join_null_skew_split",
    "agg_decayed_score",
    "join_attribution_first_touch",
    "agg_new_vs_returning",
    "agg_trend_slope",
    "agg_winsorize_bounds",
    "agg_benford_audit",
    "agg_hll_union_rollup",
    "ext_dedup_cross_source",
    "ext_dup_span_profile",
    "ext_dedup_incremental_bloom",
    "ext_fingerprint_winnow",
    "ext_lsh_param_plan",
    "ext_lsh_bucket_census",
    "ext_graph_triangle_count",
    "ext_graph_jaccard_neighbors",
    "fn_confusable_fold",
    "ext_emb_gram_int8",
    "ext_contamination_semantic",
    "ext_emb_outlier_int8",
    "ext_hard_negative_mine",
    "ext_label_knn_noise",
    "ext_tokenize_ids",
    "ext_text_langmix",
    "ext_dsir_weights",
    "ext_mixture_schedule",
    "ext_gopher_repetition",
    "ext_tokenizer_fertility",
    "ext_source_overlap_matrix",
)


def _window_order(d: dict) -> dict:
    front = {k: d[k] for k in _WINDOW_PRIORITY if k in d}
    rest = {k: v for k, v in d.items() if k not in front}
    return {**front, **rest}


_loaded = False


def load_all() -> None:
    """Import every operator module so registrations run."""
    global _loaded
    if _loaded:
        return
    pkg = __name__.rsplit(".", 1)[0]
    for mod in _OPERATOR_MODULES:
        importlib.import_module(f"{pkg}.{mod}")
    _loaded = True


def queries() -> dict[str, QueryFn]:
    load_all()
    return _window_order(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return _window_order(ORACLES)
