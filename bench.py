"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

OUTPUT CONTRACT (round-3 postmortem): the driver captures only the last
2000 chars of stdout, so the printed line must stay under that window.
Compact separators, 3-decimal timings, and a headline set capped so the
line stays < MAX_LINE_BYTES (asserted here and in
tests/test_bench_contract.py).  Everything bulky — per-query plan
hashes, run-by-run timings, each query's Spark statistics (SQL
executions, shuffle and spill MB, task skew) — goes to the
PLANHASHES.json side file instead of stdout.

This is the repo's one measurement loop: ``warm`` pays first-call
costs, ``time_query`` times one query (state dropped and a job group
set per rep), ``run`` does both for a query list.  The tools under
``tools/`` that time registered queries call these.

Each query is forced end-to-end with the noop sink (full computation of
every operator, no driver-side collect, no output I/O skew).  The
headline set spans the engine's families: scan/filter/agg, multi-join,
window dedup, event-time windows, LSH dedup, similarity, text,
curation, sketches, CDC.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

from edinet_etl_spark import registry
from edinet_etl_spark.planhash import plan_hash
from edinet_etl_spark.session import get_spark
from edinet_etl_spark.tables import load
from perfbench.trace import GroupStats, StageMetrics

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SIDE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANHASHES.json")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
MAX_LINE_BYTES = 1900  # driver tail window is 2000 chars; keep margin

# The full round-1/round-2 sets (cross-round per-query continuity),
# plus a curated 12 of the round-3 additions.  Adding a name here costs
# ~len(name)+9 bytes of the stdout budget — check line_bytes() first.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation_year",
    "top_unshipped_orders",
    "local_supplier_volume",
    "best_order_per_customer",
    "top3_orders_per_priority",
    "tumbling_hourly_stats",
    "user_sessions",
    "minhash_lsh_candidates",
    # lsh_hyperplane_buckets swapped out round 8 for the line budget
    # (LSH family still covered 3x: minhash_lsh_candidates,
    # lsh_recall_curve, fuzzy_name_linkage)
    "ivf_ann_topk",
    # token_count_estimate swapped out round 7 for the line budget
    # (text family still covered 5x: tfidf/doc_rarity/repetition/
    # corpus_common_ngrams/boilerplate)
    "asof_latest_order_per_event",
    "part_price_band_join",
    "salted_returnflag_totals",
    "sql_top_nation_per_region",
    "tfidf_top_terms",
    "neardup_components",
    "multires_time_rollup",
    # small_quantity_revenue swapped out round 8 (relational scan+agg
    # covered 7x by the other TPC-H headliners)
    "suppliers_kept_waiting",
    "bilateral_trade_volume",
    "returned_item_top_customers",
    "repetition_scores",
    "corpus_common_ngrams",
    "gapfill_locf_hourly",
    "time_weighted_avg_value",
    "benchmark_contamination",
    "pq_adc_topk",
    "doc_rarity_scores",
    "pii_scrub_customers",
    "boilerplate_segment_removal",
    "binned_quantile_sketch",
    "incremental_agg_maintenance",
    "corpus_curation_pipeline",
    # rolling_7d_active_users swapped for its bitmap-algebra sibling
    # late round 8 (same semantics/oracle, 50x fewer shuffle rows —
    # the WAU family stays covered by the better plan)
    "rolling_7d_active_bitmap",
    # curated round-3 additions (the rest stay probe-tracked in
    # SCALE.md and plan-audited via tools/plan_audit.py)
    "bpe_train_steps",
    "kmv_jaccard_intersection",
    # lsh_recall_curve rotated out round 9 (VERDICT r8 task 5: no
    # declared-quadratic eval arm in the timed top-3; its sample dial
    # also dropped 2→4).  Still driver-checked + probe-tracked in
    # SCALE.md; LSH family covered by minhash_lsh_candidates +
    # fuzzy_name_linkage + simhash_hamming_near_pairs.
    "duplicate_span_scrub",
    "training_mix_manifest",
    "cdc_apply_changes",
    "hashed_tf_cosine_topk",
    "ivf_partitioned_index_topk",
    "fuzzy_name_linkage",
    "weighted_median_price",
    "inverted_index_postings",
    # round-4 representatives (swapped in round 5 for 4 cheap
    # redundant entries: train_test_split_counts, text_stats,
    # exact_dedup, forecast_revenue_change — families still covered)
    "simhash_hamming_near_pairs",
    "containment_verify_candidates",
    "knn_label_accuracy",
    "skipgram_training_pairs",
    # round-5 representatives (survival + importance-selection families)
    "kaplan_meier_conversion",
    "dsir_importance_weights",
    # round-6 representatives (layout-skipping + coreset-selection
    # families; swapped in for simhash_signatures / cosine_topk_bruteforce
    # / value_distribution_ks_binned to hold the 1900 B line budget —
    # signature, similarity, and sketch families stay covered 2-4×)
    "zorder_data_skipping_audit",
    "kcenter_coreset_selection",
    # round-7 representatives (rank-fusion + model-eval gains families;
    # the two cheapest of the six additions — winnowing/covariance are
    # probe-tracked in SCALE.md to protect the line and time budget)
    "rrf_fusion_topk",
    "decile_lift_table",
    # round-8 representatives (as-of dim consumption + calibration-fit
    # families; aHash/t-closeness/bucketed-audit are probe-tracked in
    # SCALE.md's ledger to hold the line budget)
    "scd2_point_in_time_join",
    "isotonic_calibration_pav",
    # round-9 representative (graph-analytics family; LPA and
    # assortativity are probe-tracked in SCALE.md — the three share the
    # same edge-build stage, so one timed rep covers the family's cost)
    "copurchase_degree_stats",
]


def line_bytes(timings: dict[str, float], total: float, sf: float) -> bytes:
    """The exact stdout payload — shared with the contract test."""
    return json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        },
        separators=(",", ":"),
    ).encode()


def _drop_accumulated_state(spark) -> None:
    """Free what the previous query left in the JVM.

    Iterative operators localCheckpoint intermediates; those blocks are
    only released when Spark's ContextCleaner notices the RDD is
    garbage — which never happens under back-to-back benching, so block
    memory ratchets up and LATE queries pay a phantom GC tax (measured:
    boilerplate_segment_removal 2.5 s fresh vs 6.1 s at position 38).
    Clearing the cache and forcing a JVM GC lets the cleaner run, so
    every query is measured against the same resident state."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def warm(spark, names, sf_dir: str, warm_dir: str) -> None:
    """Pay first-call costs off the clock before ``time_query``."""
    # Warm-up: run every query once at the smallest SF so the JVM JITs
    # each plan's generated code off the clock.  Plan shapes are
    # identical across SFs, so this measures steady-state execution
    # (what a long-lived cluster sees), not first-call codegen+JIT.
    for name in names:
        registry.QUERIES[name](spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Target-SF warm pass (round-6 drift fix): the sf0.001 warm-up JITs
    # codegen but the FIRST execution at the target SF still pays heap
    # growth to working-set size, OS page-cache population of the big
    # parquet files, and first-shuffle machinery — measured ~0.6-0.7 s
    # on pricing_summary at position 1, and in the official r5 run both
    # of its reps were consistently slow (2.96/2.42 s, ratio 1.22) so
    # the 25% agreement gate stopped before the cold phase ended.  One
    # full-scan + tiny-shuffle pass over every table at the TARGET SF
    # pays those costs off the clock (~3 s at sf0.1).
    for t in TABLES:
        load(spark, sf_dir, t).groupBy(F.spark_partition_id()).count().write.format(
            "noop"
        ).mode("overwrite").save()


def time_query(
    spark, name: str, sf_dir: str, reps: int | None = None
) -> tuple[list[float], str, GroupStats]:
    """Time ``name`` at ``sf_dir``: every rep's wall time, the plan hash
    and the Spark statistics of the fastest rep.

    With ``reps`` None, best-of-N: one timed run still carries GC /
    first-shuffle-fetch noise; the min of the reps is the steady-state
    figure a resident engine delivers.  Two reps normally; when they
    disagree by >25% the number is noise-dominated, so take up to two
    more — stabilizes the recorded figure without 2× cost on the
    well-behaved majority.  Otherwise exactly ``reps`` reps.

    Each rep runs against freshly dropped state under its own job
    group; its statistics are read after its timer stops."""
    metrics = StageMetrics(spark)
    runs: list[float] = []
    try:
        while True:
            _drop_accumulated_state(spark)
            metrics.drain()
            mark = metrics.sql_exec_count()
            # the mark keeps the group unique when a query is timed again
            group = f"{name}@{mark}"
            metrics.set_group(group)
            # construction inside the timer: iterative operators
            # (eager checkpoints) do real work before the sink runs
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if runs[-1] == min(runs):
                best = metrics.group_stats(group, mark)
                best.wall_s = runs[-1]
            if reps is not None:
                if len(runs) >= reps:
                    break
            elif len(runs) >= 2 and (
                len(runs) >= 4 or max(runs[-2:]) <= 1.25 * min(runs[-2:])
            ):
                break
    finally:
        metrics.clear_group()
    # plan hash from the df just timed (driver-side only, ~ms):
    # equal across rounds ⇒ a timing delta is environment drift;
    # unequal ⇒ the plan changed and the delta is attributable.
    return runs, plan_hash(df), best


def run(spark, names, sf_dir: str, warm_dir: str) -> dict:
    """Warm, then time every query in ``names``: the stdout line's
    ``queries`` and ``value`` plus the side file's per-query data."""
    warm(spark, names, sf_dir, warm_dir)
    out: dict = {"queries": {}, "runs": {}, "plan_hashes": {}, "stages": {}}
    for name in names:
        runs, out["plan_hashes"][name], stats = time_query(spark, name, sf_dir)
        out["queries"][name] = round(min(runs), 3)
        out["runs"][name] = [round(r, 3) for r in runs]
        out["stages"][name] = {
            **{k: round(v, 3) for k, v in dataclasses.asdict(stats).items()},
            "task_skew": round(stats.task_skew, 3),
        }
    out["value"] = round(sum(out["queries"].values()), 3)
    return out


def main() -> None:
    registry.load_all()
    # measurement JVM gets headroom so GC never dominates timing; the
    # driver's own sessions are untouched (env override still wins)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("edinet-etl-spark-bench", cpus=CPUS)
    sf_match = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(sf_match.group(1)) if sf_match else -1.0
    warm_dir = SF_DIR.replace("sf0.1", "sf0.001") if "sf0.1" in SF_DIR else SF_DIR
    result = run(spark, HEADLINE, SF_DIR, warm_dir)
    with open(SIDE_FILE, "w") as fh:
        json.dump(
            {"sf": sf, **{k: result[k] for k in ("plan_hashes", "runs", "stages")}},
            fh,
            indent=1,
            sort_keys=True,
        )
    payload = line_bytes(result["queries"], result["value"], sf)
    assert len(payload) <= MAX_LINE_BYTES, (
        f"bench stdout line is {len(payload)}B > {MAX_LINE_BYTES}B: "
        "trim HEADLINE or move data to the side file"
    )
    sys.stdout.buffer.write(payload + b"\n")
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
