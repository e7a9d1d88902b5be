"""Query/oracle registry backing ``__spark_entry__``.

Each operator module registers its queries with the ``@query``
decorator; ``__spark_entry__.queries()`` / ``oracle_sql()`` read the
accumulated dicts.  A query is a ``(spark, sf_dir) -> DataFrame``
callable; its oracle is the equivalent ANSI SQL DuckDB runs over the
same parquet tables (views ``region nation customer supplier part
orders lineitem events documents embeddings``).

Contract discipline (BASELINE.md t2):
- every computed column aliased identically on both sides;
- float aggregates go through ``numeric.dsum`` (order-independent);
- any LIMIT is preceded by a total ORDER BY;
- queries whose semantics aren't SQL-expressible register with
  ``oracle=None`` → the driver records a rows-only check.

Session policy: the driver may hand a query any session (another
timezone, AQE off), so ``@query`` registers a wrapper that applies
``session.prep`` (UTC + AQE) before the body on every call — query
bodies never call ``prep`` themselves.  The wrapper keeps the body's
``__module__``, ``__doc__`` and ``__wrapped__`` (``functools.wraps``),
so the driver order, per-module metrics and ``inspect.getsource`` all
still see the body.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from edinet_etl_spark.session import prep

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# SURVEY.md §2 operator ids each query exercises (for COVERAGE.md).
COVERS: dict[str, list[str]] = {}


def query(name: str, oracle: str | None = None, covers: list[str] | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = pinned
        if oracle is not None:
            ORACLES[name] = oracle
        COVERS[name] = covers or []
        return pinned

    return deco


def load_all() -> None:
    """Import every operator module so registrations run (idempotent)."""
    from edinet_etl_spark.operators import (  # noqa: F401
        analytics,
        dedup,
        events,
        formats,
        graph,
        llmdata,
        multimodal,
        pii,
        quality,
        reference_ops,
        relational,
        similarity,
        sketches,
        sql_api,
        subqueries,
        temporal,
        text,
        tpch_rest,
        udf_surface,
    )
    from edinet_etl_spark.streaming import jobs  # noqa: F401


# The driver's correctness sweep checks a ~50-query *prefix* of
# registration order (CORRECTNESS_r01 stopped at 50).  This explicit
# order front-loads one representative per SURVEY §2 row and per
# north-star family — flagship first, then relational/reference_ops
# (the §2.1–§2.10 surface), sql/subquery/udf/multimodal/llmdata-tail/
# temporal/text/similarity/streaming representatives — so a bounded
# sweep still yields a hard correctness signal for every family.
# Modules fully driver-proven in round 1 (analytics, dedup, events,
# llmdata head) sort last; within unlisted queries, family order below
# then registration order.  Names here that stop existing raise at
# lookup time (guarded in _ordered_names).
# Round-11 rotation (VERDICT r10 task 1: the round-10 optimization
# rewrites landed AFTER the r10 window froze, so the heaviest semantic
# rewrites — minhash bigint lanes (12-consumer blast radius), the
# canonical-docs min(struct) collapse, the array_intersect verify, the
# IVF in-row ranking, span scrub, kmv shared pass, BPE job folding —
# carry no driver correctness row on their new plans.  The r11 head is
# exactly those driver-unproven rewritten paths, dedup/LSH family
# first, then this round's own optimization targets, then backfill
# from the oldest-evidence (r3) cohort up to the 50-name window.
_PRIORITY: tuple[str, ...] = (
    # ---- r10-rewritten, driver-unproven: dedup/LSH family ----
    "minhash_lsh_candidates", "canonical_minhash_candidates",
    "jaccard_verify_candidates", "containment_verify_candidates",
    "simhash_hamming_near_pairs", "neardup_components",
    "minhash_jaccard_estimate_error", "lsh_recall_curve",
    "prefix_filter_jaccard_join", "edit_distance_near_pairs",
    "duplicate_span_scrub", "lsh_band_bucket_stats",
    "delta_dedup_against_corpus", "neardup_canonical_docs",
    # ---- r10-rewritten: IVF/PQ family (in-row coarse quantizer,
    # min(struct) code assignment) ----
    "ivf_ann_topk", "ivf_ann_nprobe2", "kmeans_train_step",
    "semdedup_prune", "ivf_partitioned_index_topk", "ivf_recall_at3",
    "pq_codebook_recon_error",
    # ---- r10-rewritten: the rest ----
    "kmv_jaccard_intersection", "dsir_importance_weights",
    "bpe_train_steps", "bpe_apply_per_source",
    "boilerplate_segment_removal", "hashed_tf_cosine_topk",
    "copurchase_degree_stats", "image_ahash_neardup",
    # ---- round-11 optimization targets (VERDICT r10 task 4) ----
    "fuzzy_name_linkage", "skipgram_training_pairs",
    "repetition_scores",
    # ---- backfill: oldest-evidence (r3) cohort, continuing the r10
    # rotation order (copurchase_lift_pairs was cut at the r10
    # boundary) ----
    "copurchase_lift_pairs", "customer_order_distribution",
    "customer_spend_trend", "embedding_neardup_blocked",
    "grouped_map_user_zscore", "hard_negative_mining",
    "heavy_promo_suppliers", "important_part_value",
    "inactive_rich_customers", "jl_projection_recall",
    "kcore_copurchase_peel", "kmv_distinct_estimate",
    "kmv_sketch_merge", "large_volume_customers",
    "min_price_supplier_per_part", "nation_market_share",
    "pagerank_event_graph", "part_price_band_join",
    # ---- behind the window: the rest of the round-3 cohort, so a
    # wider sweep (or the r12 head) picks them up first ----
    "parttype_profit_by_nation_year", "pq_recall_at3",
    "promo_revenue_share", "returned_item_top_customers",
    "seasonal_hourly_anomalies",
    "small_quantity_revenue", "sql_recursive_paydown",
    "sql_udf_band_totals", "streaming_attribution_left_outer",
    "streaming_cdc_snapshot", "streaming_dedup_events",
    "supplier_count_by_part", "time_weighted_avg_value",
    "top_supplier_by_revenue", "trailing_hour_user_avg",
    "udaf_median_acctbal_by_nation", "udtf_dynamic_word_columns",
    "zorder_locality_stats",
)

# Tail order for queries not in _PRIORITY: still-unproven families
# first, round-1-green modules last.
_MODULE_ORDER: tuple[str, ...] = (
    "graph", "sketches", "pii", "quality", "temporal", "text", "similarity", "subqueries", "tpch_rest",
    "udf_surface", "jobs", "multimodal", "sql_api", "relational",
    "reference_ops", "llmdata", "events", "dedup", "analytics",
)


def _ordered_names() -> list[str]:
    load_all()
    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"_PRIORITY names not registered: {missing}")
    head = list(_PRIORITY)
    in_head = set(head)
    mod_rank = {m: i for i, m in enumerate(_MODULE_ORDER)}
    rest = [n for n in QUERIES if n not in in_head]
    reg_rank = {n: i for i, n in enumerate(QUERIES)}
    rest.sort(
        key=lambda n: (
            mod_rank.get(QUERIES[n].__module__.rsplit(".", 1)[-1], len(mod_rank)),
            reg_rank[n],
        )
    )
    return head + rest


def all_queries() -> dict[str, QueryFn]:
    return {n: QUERIES[n] for n in _ordered_names()}


def all_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}


def coverage() -> dict[str, Any]:
    load_all()
    return {
        n: {"oracle": n in ORACLES, "covers": COVERS[n]} for n in _ordered_names()
    }
