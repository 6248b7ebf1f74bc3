"""Query catalog registry.

Each capability from SURVEY.md §2 registers here as a named query:
a ``(spark, sf_dir) -> DataFrame`` callable plus (where expressible)
the equivalent ANSI SQL a DuckDB oracle can run on the same parquet
tables. ``__spark_entry__`` exposes the registry to the driver.

Caching contract: a plan function may ``persist()`` intermediates it
reads more than once (``permutation_test`` and ``bh_fdr_screen``
persist their small rollups) and does not unpersist them, since the
returned DataFrame is still lazy. Callers that run several queries
in one session run ``spark.catalog.clearCache()`` between queries,
as ``perfbench/workloads.py`` and the test fixtures do; otherwise
cached relations accumulate in executor storage.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

_PLAN_MODULES = (
    "spotify_podcasts_airflow_batch_spark.plans.relational",
    "spotify_podcasts_airflow_batch_spark.plans.relational2",
    "spotify_podcasts_airflow_batch_spark.plans.relational3",
    "spotify_podcasts_airflow_batch_spark.plans.relational4",
    "spotify_podcasts_airflow_batch_spark.plans.recsys",
    "spotify_podcasts_airflow_batch_spark.plans.reference_parity",
    "spotify_podcasts_airflow_batch_spark.plans.text",
    "spotify_podcasts_airflow_batch_spark.plans.text2",
    "spotify_podcasts_airflow_batch_spark.plans.text3",
    "spotify_podcasts_airflow_batch_spark.plans.llm_pipeline",
    "spotify_podcasts_airflow_batch_spark.plans.llm_pipeline2",
    "spotify_podcasts_airflow_batch_spark.plans.analytics",
    "spotify_podcasts_airflow_batch_spark.plans.analytics2",
    "spotify_podcasts_airflow_batch_spark.plans.similarity",
    "spotify_podcasts_airflow_batch_spark.plans.similarity2",
    "spotify_podcasts_airflow_batch_spark.plans.similarity3",
    "spotify_podcasts_airflow_batch_spark.plans.similarity4",
    "spotify_podcasts_airflow_batch_spark.plans.stream_state",
    "spotify_podcasts_airflow_batch_spark.plans.events",
    "spotify_podcasts_airflow_batch_spark.plans.events2",
    "spotify_podcasts_airflow_batch_spark.plans.timeseries",
    "spotify_podcasts_airflow_batch_spark.plans.experiments",
    "spotify_podcasts_airflow_batch_spark.plans.multimodal",
)


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check


# The correctness driver samples the FIRST 50 registry entries in
# iteration order. This explicit head is ROTATED each round toward
# never-driver-verified keys so the whole catalog eventually gets a
# driver-checked row: rounds 1-2 verified the relational (B) head,
# round 3 the A/C-core/D/E/F representatives, round 4 the text/
# recsys/events/statistics wave, round 5 the sampling/PQ-ANN/
# E-statistics wave, round 6 the analytics/timeseries/ANN-serving
# wave, round 7 the served-quantizer/experimentation wave — after
# which every catalog entry had at least one driver row. From round 8
# the window pivots from "never verified" to "verified, then
# CHANGED": keys whose plan or oracle was rewritten AFTER their last
# driver hash row come first (round 8: the r7 degenerate fixes, all
# re-verified green; round 9: the PQ/IVF family rewritten by the
# round-8 √n-cells + ivf_assign_arrow change, VERDICT r8 item 1),
# then the round's additions, then refill with already-verified
# oracle-bearing keys in registry order so the window never runs
# short. Queries outside the head stay covered by the local
# driver-strict suite (tests/test_queries_oracle.py), which runs the
# same row-count / schema / canonicalized-hash comparison on every
# registered query.

# Keys whose plan or oracle text changed after their most recent
# driver hash row — the rotation's first-priority fill, and the
# documented exemption that lets a rows-only key with an old clean
# row re-enter the head (tests/test_driver_window.py).
_CHANGED_SINCE_DRIVER_ROW = (
    # round-10 optimizations whose driver window rotated past them
    # (VERDICT r10 "what's wrong" #5): restructured/persisted plans
    # proven by the local driver-strict suite, now closed with a
    # driver row
    "dsir_resample",
    "kmeans_audit",
    "lsh_param_sweep",
    "ivf_nprobe_recall",
    "ivfpq_residual_ann",
    # round-11 redundant-scan eliminations (VERDICT r10 follow-up #3):
    # bm25 one-pass per-doc profile (also inside hybrid_rrf_fusion) and
    # the persisted narrow projections
    "bm25_search",
    "hybrid_rrf_fusion",
    "dup_span_removal",
    "domain_quota_cap",
    "quantile_normalize_grid",
    "fold_balance_audit",
)

_DRIVER_HEAD = (
    "q1_pricing_summary",  # sentinel
    "q9_product_profit",  # sentinel
    "salted_join",  # sentinel
    # -- changed after their last driver row (see above)
    *_CHANGED_SINCE_DRIVER_ROW,
    # -- freshness rotation (VERDICT r10 follow-up #2): the A-family
    #    representative whose last row is r9, then the 36 stalest
    #    oracle-bearing keys (31 last verified in r3 — the set the
    #    round-10 rotation deferred — plus 5 of the r4 wave), sorted
    #    by last-driver-row round then registry order
    "chart_rank_move",
    "scd2_lookup",
    "episode_enrich",
    "exact_dedup",
    "ngram_jaccard",
    "minhash_signatures",
    "minhash_accuracy",
    "simhash",
    "simhash_near_dup",
    "dedup_keep_best",
    "bpe_token_count",
    "train_split",
    "quality_filter",
    "contamination_check",
    "tfidf_cosine_pairs",
    "sequence_pack",
    "pii_scrub",
    "token_entropy",
    "incremental_dedup",
    "embed_near_dup",
    "knn_brute",
    "label_centroids",
    "dedup_clusters",
    "embed_dim_stats",
    "nation_pagerank",
    "semdedup_keep",
    "tumbling_window",
    "retention_cohorts",
    "click_attribution",
    "funnel_steps",
    "session_window_agg",
    "media_decode",
    "corr_matrix",
    "join_skew_report",
    "fk_integrity_audit",
    "pk_uniqueness_audit",
)


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, spark_fn=fn, oracle=oracle)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)
    missing = [n for n in _DRIVER_HEAD if n not in _REGISTRY]
    if missing:
        raise RuntimeError(
            "_DRIVER_HEAD keys not registered by any plan module "
            f"(renamed or removed?): {missing}"
        )
    head = {n: _REGISTRY[n] for n in _DRIVER_HEAD}
    rest = {n: q for n, q in _REGISTRY.items() if n not in head}
    return {**head, **rest}
