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
# Round-12 rotation: the head is every query whose per-session working
# dir moved to `session.scratch_dir` / `session.staged_dir` (the 14
# streaming queries, the three format round-trips and the five batch
# queries that write scratch data), then the backfill from the
# oldest-evidence cohorts: all of r3, then r4 in name order up to the
# 50-name window and behind it.  The r11 head (the r10-rewritten
# dedup/LSH/IVF paths) was driver-green in r11 and sorts by module.
# The two Python kernels that quantize through `numeric.dec8` join the
# head right after the streaming queries.
_PRIORITY: tuple[str, ...] = (
    # ---- paths whose scratch dirs moved to session.scratch_dir: the
    # streaming queries (their snapshot sinks share one commit) ... ----
    "streaming_attribution_left_outer", "streaming_cdc_snapshot",
    "streaming_dedup_events", "streaming_tumbling_hourly",
    "streaming_user_sessions", "streaming_user_totals",
    "streaming_join_view_maintenance", "streaming_nation_hourly",
    "streaming_purchase_attribution", "streaming_quality_monitor",
    "streaming_cms_heavy_hitters", "streaming_bitmap_distinct",
    "streaming_asof_enrich", "streaming_neardup_dedup",
    # ---- the two numeric.dec8 kernels ----
    "grouped_map_user_zscore", "rank_biased_overlap_eval",
    # ---- ... and the batch queries that write scratch data ----
    "orc_roundtrip_stats", "jsonl_roundtrip_stats", "xml_roundtrip_stats",
    "csv_corrupt_records_audit", "dynamic_partition_pruned_join",
    "schema_evolution_read", "bucketed_colocated_join_audit",
    "ivf_partitioned_index_topk",
    # ---- backfill: the rest of the r3 cohort ----
    "parttype_profit_by_nation_year", "pq_recall_at3",
    "promo_revenue_share", "returned_item_top_customers",
    "seasonal_hourly_anomalies", "small_quantity_revenue",
    "sql_recursive_paydown", "sql_udf_band_totals",
    "supplier_count_by_part", "time_weighted_avg_value",
    "top_supplier_by_revenue", "trailing_hour_user_avg",
    "udaf_median_acctbal_by_nation", "udtf_dynamic_word_columns",
    "zorder_locality_stats",
    # ---- backfill: the r4 cohort up to the window ----
    "bigram_novelty_scores", "bpe_top_merges", "cdc_apply_changes",
    "cms_join_size_estimate", "doc_chunk_windows", "doc_rarity_scores",
    "document_fingerprints", "embedding_sq8_recon_error",
    "event_sequence_trigrams", "fulfilled_only_customers_except",
    "incremental_agg_maintenance",
    # ---- behind the window: the rest of the r4 cohort, so a wider
    # sweep (or the next head) picks them up first ----
    "language_id_heuristic", "lsh_hyperplane_buckets",
    "matryoshka_prefix_recall", "multimodal_audio_energy",
    "multimodal_features", "multimodal_frame_sample",
    "pii_redaction_report", "props_variant_stats", "quality_scores",
    "rolling_7d_active_users", "source_overlap_matrix",
    "source_temperature_sampling", "suppliers_with_shipments",
    "table_profile_orders", "tfidf_top_terms",
    "token_budget_pack_partitioned", "token_count_estimate",
    "training_mix_manifest", "training_shard_assignment",
    "value_distribution_ks_binned",
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
