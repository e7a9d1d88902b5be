"""Physical-plan regression tests: the plan properties SCALE.md
promises, pinned per query so a future edit that silently adds a
shuffle, drops a broadcast, or pulls work into Python fails CI.

Counting rule: ``Exchange`` nodes are counted in the AQE-final plan
with AQE disabled for determinism (AQE may elide/convert at runtime —
these bounds are the static worst case)."""

from __future__ import annotations

import pytest

from edinet_etl_spark import registry

SF_DIR = "/root/testdata/sf0.01"

registry.load_all()


@pytest.fixture(scope="module")
def plan_spark(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def plan_of(spark, name: str) -> str:
    return (
        registry.QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


# (query, max Exchange nodes, must-contain, must-NOT-contain)
EXPECTATIONS = [
    # TPC-H Q1 shape: scan → parallel_scan RR exchange (unsplittable
    # input) → partial agg → ONE shuffle → final agg → sort
    ("pricing_summary", 3, ["HashAggregate"], ["PythonUDF", "CartesianProduct"]),
    # 5-way star join: fixed dims (nation/region) hinted broadcast;
    # customer is NOT hinted (grows with SF) but small enough at sf0.01
    # that the static planner still picks broadcast for it
    ("revenue_by_nation_year", 3, ["BroadcastHashJoin"], ["PythonUDF"]),
    # window dedup: exactly one hash partitioning for the window
    ("best_order_per_customer", 1, ["Window"], ["PythonUDF"]),
    # semi/anti joins stay joins, not collected sets
    ("order_priority_check", 3, ["LeftSemi"], ["PythonUDF"]),
    ("customers_without_orders", 2, ["LeftAnti"], ["PythonUDF"]),
    # event-time windows are native expressions
    ("tumbling_hourly_stats", 2, ["HashAggregate"], ["PythonUDF"]),
    # M6 text/dedup hot paths are pure codegen — NO Python anywhere
    ("minhash_lsh_candidates", 4, ["HashAggregate"], ["PythonUDF", "BatchEvalPython"]),
    ("token_count_estimate", 0, [], ["PythonUDF", "Exchange"]),
    ("text_stats", 0, [], ["PythonUDF", "Exchange"]),
    # band join: tiny side broadcast nested loop, fact side unshuffled
    ("part_price_band_join", 2, ["BroadcastNestedLoopJoin"], ["SortMergeJoin"]),
    # binned ±1 neighbor join: whole POINT is the equi-join on bin —
    # a planner regression to a nested-loop/cartesian probe would be
    # quadratic while still passing the oracle
    # (any hash/merge equi-join is fine; only the quadratic probes are
    # banned, so no "contains" pin on a specific equi-join flavor)
    ("price_neighbor_pairs_binned", 4, [],
     ["BroadcastNestedLoopJoin", "CartesianProduct", "PythonUDF"]),
    # as-of: union + ONE window shuffle, no range join blowup
    ("asof_latest_order_per_event", 1, ["Window", "Union"], ["CartesianProduct", "PythonUDF"]),
    # decontamination: benchmark side broadcasts; corpus never shuffles
    ("benchmark_contamination", 1, ["LeftSemi", "BroadcastHashJoin"], ["PythonUDF", "SortMergeJoin"]),
    # Q21 shape: EXISTS/NOT EXISTS as per-order aggregates — ONE fact
    # exchange on the correlation key feeds join + group-by + window
    ("suppliers_kept_waiting", 3, ["Window"], ["PythonUDF", "CartesianProduct", "LeftSemi", "LeftAnti"]),
    # gap-fill: grid is generated (broadcast NLJ over the hour array),
    # both windows share one user_id shuffle
    ("gapfill_locf_hourly", 2, ["Window"], ["PythonUDF", "CartesianProduct"]),
    # correlated AVG subquery decorrelated to a keyed agg + joins; the
    # brand filter is pushed through the correlation key so the agg is
    # over ~2% of lineitem (static plan: agg exchange + SMJ pair, AQE
    # broadcasts the small agg side at runtime)
    ("small_quantity_revenue", 3, ["BroadcastHashJoin"], ["PythonUDF", "CartesianProduct"]),
    # LATERAL + LIMIT decorrelates to window rank with group-limit pushdown
    ("sql_lateral_top2_orders", 1, ["Window", "WindowGroupLimit"], ["CartesianProduct", "PythonUDF"]),
    # hash-ranked sampling: one window shuffle, rank prune before full sort
    ("stratified_doc_sample", 1, ["WindowGroupLimit"], ["PythonUDF"]),
    # OHLC via min_by/max_by: ONE partial+final aggregate shuffle, NO
    # window (struct-keyed min_by plans as SortAggregate)
    ("hourly_ohlc_bars", 1, ["SortAggregate"], ["Window", "PythonUDF"]),
    # per-doc repetition scoring: zero shuffles, pure codegen
    ("repetition_scores", 0, [], ["PythonUDF"]),
    # event-time RANGE frame: one user_id shuffle feeds the frame scan
    ("trailing_hour_user_avg", 1, ["Window"], ["PythonUDF"]),
    # k-means step: K-seed broadcast crossJoin (never a shuffled product)
    ("kmeans_train_step", 4, ["BroadcastNestedLoopJoin"], ["SortMergeJoin", "CartesianProduct", "PythonUDF"]),
    # CMS build: word fan-out collapses map-side to ≤ d·w counters —
    # one RR reshuffle (unsplittable fixture) + ONE tiny agg exchange
    ("cms_sketch_counts", 2, ["HashAggregate"], ["PythonUDF", "CartesianProduct"]),
    # sketch probe joins the ≤ d·w-row matrix BROADCAST, never shuffled
    ("cms_heavy_hitters", 5, ["BroadcastHashJoin"], ["PythonUDF", "SortMergeJoin", "CartesianProduct"]),
    # bloom build: ≤ bits/32 packed words, one agg exchange
    ("bloom_filter_bitmap", 1, ["HashAggregate"], ["PythonUDF"]),
    # pre-join pruning: the bitmap AND the key set broadcast to the
    # fact scan; the fact table itself never sort-merge joins
    ("bloom_prejoin_reduction", 5, ["BroadcastHashJoin"], ["PythonUDF", "SortMergeJoin", "CartesianProduct"]),
    # PageRank hop: edge×deg table is checkpoint-materialized, each
    # hop is rank-join + ONE dst agg exchange; no quadratic probes
    ("pagerank_event_graph", 10, ["BroadcastHashJoin"], ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # rarity scoring: explode → term agg → term join (AQE may broadcast
    # the vocab side) → doc agg; all equi-keyed, no quadratic probes
    # (the 1-row n_docs scalar attaches via broadcast NLJ — benign)
    ("doc_rarity_scores", 5, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct"]),
    # PII scrub: pure codegen regex chain — zero shuffle, zero Python
    ("pii_scrub_customers", 0, [], ["PythonUDF", "Exchange"]),
    # triangle count: degree-oriented wedge join — every join is a key
    # equi-join (hub wedges bounded by orientation); the naive
    # unoriented 3-way self-join would be a hub² blowup
    # (single-row count cards attach via broadcast NLJ — benign)
    ("triangle_count_copurchase", 12, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct"]),
    # KMV sketch: distinct hash set + per-group k-th-min window +
    # exact countDistinct (Expand) — all equi-keyed
    ("kmv_distinct_estimate", 7, ["Window"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # BPE merge step: word/pair fan-out collapses map-side to distinct
    # pair counts; top-20 is TakeOrdered over the aggregate, no global sort
    ("bpe_top_merges", 2, ["HashAggregate", "TakeOrderedAndProject"],
     ["PythonUDF", "CartesianProduct", "Sort "]),
    # hard-negative mining: anchors broadcast, one corpus scan,
    # per-anchor rank with group-limit pushdown
    ("hard_negative_mining", 3, ["WindowGroupLimit"],
     ["PythonUDF", "SortMergeJoin"]),
    # profile: ONE scan, all aggregates share it (Expand for the
    # multi-column distinct), stack unpivot — no per-column rescans
    ("table_profile_orders", 4, ["Expand"], ["PythonUDF", "CartesianProduct"]),
    # integrity gate: FK rules as anti joins (no forced hints —
    # customer/part grow with SF; the small-SF planner still picks
    # broadcast, the fact-fact orderkey check may shuffle), 5-row
    # union output
    ("data_quality_checks", 11, ["LeftAnti", "Union"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # PQ encode: 16-row codebook BROADCAST to the sub-vector stream;
    # the only exchanges are the (vec_id, sub_id) min(struct) argmin
    # agg (partial-aggregated map-side — r10 replaced the row_number
    # window) + the per-vector repack agg — never a shuffled product
    ("pq_codebook_recon_error", 4, ["BroadcastHashJoin", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin", "Window"]),
    # ADC search: LUT broadcast into the code stream; per-(query,
    # neighbor) sum is a partial-aggregated hash agg, top-k a window
    # (7 = 4 parallel_scan RR repartitions of the unsplittable fixture
    # + code argmin + pair agg + top-k window — no shuffled joins)
    ("pq_adc_topk", 7, ["BroadcastHashJoin", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # round-3 additions
    # temperature sampling: |sources| probability table broadcast back
    # to the corpus scan; the one-row (total, Σ√n) attaches via BNL
    ("source_temperature_sampling", 4, ["BroadcastHashJoin"],
     ["PythonUDF", "SortMergeJoin", "CartesianProduct"]),
    # shard shuffle: ONE hash-partition exchange (64 groups), no joins
    ("training_shard_assignment", 1, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct"]),
    # θ-sketch intersection: every join touches ≤k-row sketch sides
    # (broadcast); exchanges are all sketch-sized.  r10 shares ONE
    # l_partkey membership collapse across the sketch and exact arms:
    # the static plan prints the canonically-identical subtree once
    # per consumer (26 Exchange nodes) but AQE stage-reuse
    # materializes the shared shuffles once at runtime (2.68->2.04 s
    # measured, commit d9ea86f).
    ("kmv_jaccard_intersection", 26, ["BroadcastHashJoin"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # MRL recall: candidate fetch joins + query broadcast; no quadratic
    # probes beyond the declared 5-query brute-force ground-truth arm
    ("matryoshka_prefix_recall", 5, ["BroadcastHashJoin"],
     ["PythonUDF", "CartesianProduct"]),
    # LSH S-curve: candidate pipeline + truth join all equi-keyed
    ("lsh_recall_curve", 8, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # ordered CDC apply: delta-sized window + ONE snapshot anti join
    ("cdc_apply_changes", 4, ["LeftAnti", "Window"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # Gopher repetition: array-local n-grams, doc_id repartition + two
    # (doc_id, gram) count exchanges; doc-level aggs/join reuse them
    ("gopher_repetition_flags", 4, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # binned KS: the heavy exchange is the ≤256-bin count agg; the
    # window/argmax tail runs over constant-size bin rows (the 1-row
    # totals attach via broadcast NLJ — benign)
    ("value_distribution_ks_binned", 8, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # exact-threshold set-similarity join: every join equi-keyed on
    # shingle/doc/pair — a quadratic-probe regression would defeat the
    # entire prefix-filter design.  Exchange budget 30: the round-5
    # rewrite added the canonical-collapse window, the word-3-shingle
    # construction, and the m-carry for the PPJoin length filter
    # (each a keyed hash exchange, none a pair blowup)
    ("prefix_filter_jaccard_join", 30, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two-level distributed skyline: per-bucket windows prune locally,
    # the global single-task window sees only the candidate union
    # (static SMJs on the join-backs become broadcast under AQE)
    ("pareto_frontier_orders", 9, ["Window"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # BM25: query-term filter under the explode, df + (N, avgdl)
    # broadcast, TakeOrdered top-k — never a global sort or SMJ
    ("bm25_retrieval_topk", 5, ["BroadcastHashJoin", "TakeOrderedAndProject"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # robust median/MAD: two event_type window passes, per-type
    # median/MAD tables broadcast back — no shuffled joins
    ("value_mad_outliers", 6, ["Window", "BroadcastHashJoin"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin",
      "BroadcastNestedLoopJoin"]),
    # priority sampling: top-(k+1) must stay TakeOrderedAndProject
    # (per-partition heaps), never a global Sort
    ("priority_weighted_sample", 6, ["TakeOrderedAndProject"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # ACF: hourly collapse + per-type lag window + broadcast mean —
    # the raw scan aggregates once, no shuffled joins
    ("value_acf_lags", 5, ["Window", "BroadcastHashJoin"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin",
      "BroadcastNestedLoopJoin"]),
    # FD audit: pure aggregates, one union — no joins at all; per FD:
    # (A,B) shuffle + A rollup + one-row collapse = 3 Exchanges × 4 FDs
    ("fd_violation_audit", 12, ["HashAggregate", "Union"],
     ["PythonUDF", "Join", "CartesianProduct"]),
    # SNM blocking: block-partitioned window (never the global-sort
    # single-partition window), union of lead arms
    ("sorted_neighborhood_pairs", 4, ["Window", "Union"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin", "Join"]),
    # attribution: user-keyed hash join with the 24h band as a
    # post-filter — the planner must NOT fall back to a nested loop
    ("linear_touch_attribution", 6, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # weighted median: one window shuffle + grouped selection
    ("weighted_median_price", 3, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Join"]),
    # linear interp: same ONE user_id shuffle as LOCF — the second
    # (forward) window shares the partitioning, no extra exchange
    ("gapfill_linear_interp", 2, ["Window"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # golden record: ONE aggregation pass, no windows, no joins
    ("user_profile_snapshot", 3, [],
     ["PythonUDF", "CartesianProduct", "Join", "Window"]),
    # compaction plan: per-day collapse, calendar-bounded global
    # cumulative window, bin rollup
    ("compaction_bin_packing", 2, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Join"]),
    # apportionment: |sources|-row logic after one count shuffle; the
    # one-row total attaches via broadcast NLJ (benign)
    ("sample_budget_apportionment", 4, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # inverted index: distinct collapse + ONE term shuffle + top-k heap
    # — the giant stopword posting folds inside the aggregate
    ("inverted_index_postings", 2, ["HashAggregate", "TakeOrderedAndProject"],
     ["PythonUDF", "CartesianProduct", "Join", "Window"]),
    # winsorized mean: selection + clipped mean on the SAME collapsed
    # grid — no second fact scan, thresholds broadcast back
    ("winsorized_segment_stats", 6, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct"]),
    # inter-arrival: (user,type)-keyed LAG, distinct-gap collapse,
    # per-type selection — no joins at all
    ("event_interarrival_stats", 4, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Join"]),
    # mobility: NTILE over the collapsed per-customer table only
    ("spend_quartile_mobility", 7, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # shares: flagship star agg + ratio windows on the 25-row grid
    ("region_nation_revenue_shares", 3, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # reconciliation: per-order collapse + ONE order-key join + rollup
    ("order_total_reconciliation", 4, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Window",
      "BroadcastNestedLoopJoin"]),
    # Benford: one digit count + 9-row window (single fact scan — the
    # one-row cross-join draft rescanned the fact table, probe 5.6x)
    ("benford_first_digit_audit", 2, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Join"]),
    # dictionary advisor: three zero-join aggregate legs + union
    ("dictionary_encoding_stats", 6, ["HashAggregate", "Union"],
     ["PythonUDF", "CartesianProduct", "Join", "Window"]),
    # k-anon release: one cell aggregate + broadcast decode + filter
    ("kanon_release_segment_stats", 3, ["HashAggregate"],
     ["PythonUDF", "CartesianProduct", "Window",
      "BroadcastNestedLoopJoin"]),
    # golden record: ONE aggregation pass (struct-max survivorship)
    # table checksum: three map-side-combined one-row aggregate legs,
    # a union, zero joins/windows
    ("table_checksum_audit", 3, ["HashAggregate", "Union"],
     ["PythonUDF", "CartesianProduct", "Join", "Window"]),
    # HOF top-token: the whole point is ZERO explode and ZERO shuffle
    # beyond the final sort — one codegen projection over the scan
    ("doc_top_token_arrayonly", 1, [],
     ["PythonUDF", "Generate", "Join", "Window", "CartesianProduct",
      "HashAggregate"]),
    # skew profile: key-count shuffle + count-of-counts legs; every
    # exchange after stage 1 is O(sqrt(rows))-bounded or one-row, and
    # the one-row legs attach via broadcast NLJ (benign)
    ("join_key_skew_profile", 7, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin"]),
    # exact percentiles: distinct-value collapse BEFORE the per-segment
    # window — the window must consume the collapsed agg, never raw rows
    ("exact_group_percentiles", 5, ["Window", "HashAggregate"],
     ["PythonUDF", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # centroid drift: explode feeds a partial agg in-stage (labels×dims
    # combiner rows shuffle, not n×d), argmax join-back broadcast
    ("embedding_centroid_drift", 5, ["HashAggregate", "BroadcastHashJoin"],
     ["PythonUDF", "CartesianProduct", "SortMergeJoin",
      "BroadcastNestedLoopJoin"]),
    # decile lift (r8 plan pin, VERDICT r7 task 3; r10 prefix-scan
    # rewrite): union-aggregate scoring is unchanged but now executes
    # at construction, inside the prefix helper's eager checkpoint —
    # the visible plan starts at the checkpoint scan (ExistingRDD),
    # so the r8 "Union, no Join" spelling moved behind it.  What the
    # r10 serial-grid gate (commit cae5cfd): the ~60k-row collapsed
    # spend grid rides ONE checkpointed block scan + a serial
    # cumulative window; the only joins left are the hint-pinned
    # 1-row-totals broadcast (BNL cross of a single aggregate row —
    # the repo's sanctioned 1-row crossJoin form); sort-merge and
    # true cartesian stay banned.
    ("decile_lift_table", 4, ["Scan ExistingRDD", "HashAggregate",
     "Window"],
     ["SortMergeJoin", "CartesianProduct", "PythonUDF",
      "SortMergeJoin"]),
]


@pytest.mark.parametrize("name,max_exchanges,contains,absent", EXPECTATIONS)
def test_plan_shape(plan_spark, name, max_exchanges, contains, absent):
    plan = plan_of(plan_spark, name)
    n_exchanges = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchanges <= max_exchanges, (
        f"{name}: {n_exchanges} Exchange nodes (max {max_exchanges})\n{plan}"
    )
    for frag in contains:
        assert frag in plan, f"{name}: expected {frag} in plan\n{plan}"
    for frag in absent:
        assert frag not in plan, f"{name}: unexpected {frag} in plan\n{plan}"


# SCALE.md blueprint: customer/supplier/part grow with SF (~1 B rows
# at 100 TB) and must NEVER carry a forced broadcast hint — AQE
# converts at runtime while a side is genuinely small.  With
# autoBroadcastJoinThreshold=-1 and AQE off, the ONLY BroadcastExchange
# nodes left in a static plan are forced hints, so pinning the exact
# count per query proves the invariant: every hint is a fixed-size dim
# (nation/region) or a one-row scalar aggregate, never an SF-growing
# table.  (query, exact BroadcastExchange count, which hints remain)
_HINT_ONLY_EXPECTATIONS = [
    ("revenue_by_nation_year", 2, "nation + region"),
    ("local_supplier_volume", 2, "nation + region (supplier unhinted)"),
    ("bilateral_trade_volume", 2, "nation twice (sup/cust slices unhinted)"),
    ("parttype_profit_by_nation_year", 1, "nation (supplier unhinted)"),
    ("nation_market_share", 1, "nation (supplier unhinted)"),
    ("top_supplier_by_revenue", 1, "one-row MAX scalar (supplier unhinted)"),
    ("suppliers_kept_waiting", 0, "no hints at all"),
    ("min_price_supplier_per_part", 0, "no hints at all"),
    ("supplier_count_by_part", 0, "bad_sup slice unhinted"),
    ("heavy_promo_suppliers", 1, "one-row threshold scalar (heavy unhinted)"),
    # remaining relational flagships: no hints anywhere (Q3's
    # customer⋈orders⋈lineitem are all SF-growing; Q6 joins nothing)
    ("top_unshipped_orders", 0, "no hints at all (customer unhinted)"),
    ("forecast_revenue_change", 0, "no hints at all (no joins)"),
    ("pricing_summary", 0, "no hints at all (no joins)"),
]


def test_aqe_star_shape_flagship(spark):
    """The flagship's star shape under AQE (prep() default): the fixed
    dims (nation/region) run as broadcast joins in the FINAL adaptive
    plan, and no SF-growing table was force-hinted to get there (the
    static-side invariant is `test_no_forced_hint_on_sf_growing_tables`)
    — a Catalyst upgrade that silently regressed the star to all-SMJ
    would fail here."""
    from edinet_etl_spark import registry

    registry.load_all()
    df = registry.QUERIES["revenue_by_nation_year"](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # every dim join broadcast at this SF (customer/orders small enough
    # that AQE converts them too); zero sort-merge joins in the star
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name,n_hints,which", _HINT_ONLY_EXPECTATIONS)
def test_no_forced_hint_on_sf_growing_tables(plan_spark, name, n_hints, which):
    old = plan_spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    plan_spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(plan_spark, name)
    finally:
        plan_spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    got = plan.count("BroadcastExchange")
    assert got == n_hints, (
        f"{name}: {got} BroadcastExchange nodes with auto-broadcast "
        f"disabled (expected exactly {n_hints}: {which}) — a forced "
        f"hint was added or removed\n{plan}"
    )


def test_aqe_runtime_replan_bilateral_trade(spark):
    """With AQE on (prep() default), the executed plan is adaptively
    finalized: runtime shuffle statistics drive partition coalescing
    (AQEShuffleRead), the filtered dims run as broadcast joins, and the
    one fact-fact join (lineitem⋈orders) correctly REMAINS sort-merge —
    broadcasting a fact side would be the wrong call at any scale."""
    from edinet_etl_spark import registry

    registry.load_all()
    df = registry.QUERIES["bilateral_trade_volume"](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 1  # exactly the fact-fact join


def test_plan_hash_normalizes_session_counters():
    """normalize_plan must scrub every session-global counter: expr
    ids, codegen stage ids, and higher-order-function lambda variable
    numbers (lambda x_1 vs lambda x_28 — found drifting bench hashes
    mid-session)."""
    from edinet_etl_spark.planhash import normalize_plan

    a = "Project [aggregate(transform(split(text#12,  , -1), lambdafunction(length(lambda x_1#3), lambda x_1#3, false)), 0, lambdafunction((lambda x_2#4L + lambda y_3#5L), lambda x_2#4L, lambda y_3#5L, false))] *(2)"
    b = "Project [aggregate(transform(split(text#99,  , -1), lambdafunction(length(lambda x_28#7), lambda x_28#7, false)), 0, lambdafunction((lambda x_29#8L + lambda y_30#9L), lambda x_29#8L, lambda y_30#9L, false))] *(7)"
    assert normalize_plan(a) == normalize_plan(b)


def test_plan_hash_normalizes_session_database_names():
    """bucketed_colocated_join_audit reads catalog tables in a database
    named per session (``edinet_bucketed_audit_<12 hex>``, from the
    application id), so two sessions print two names for one plan."""
    from edinet_etl_spark.planhash import normalize_plan

    def scan(tag: str) -> str:
        return (
            f"FileScan parquet spark_catalog.edinet_bucketed_audit_{tag}.orders_bucketed"
            "[o_orderkey#12L,o_orderpriority#17] Batched: true, Bucketed: true, "
            f"Location: InMemoryFileIndex(1 paths)[file:/tmp/edinet_bucketed_audit_{tag}/orders_bucketed]"
        )

    assert normalize_plan(scan("3f2a9c0d1e4b")) == normalize_plan(scan("c0ffee123456"))
    assert "orders_bucketed" in normalize_plan(scan("3f2a9c0d1e4b"))


def test_plan_hash_normalizes_distinct_group_order():
    """table_profile_orders' multi-column COUNT DISTINCT is rewritten to
    an Expand with one gid per distinct column, and Catalyst orders the
    groups by expression hash codes, which carry session expression
    ids: a fresh session and one that ran other queries first print the
    group columns, gid numbers and Expand rows in different orders."""
    from edinet_etl_spark.planhash import normalize_plan

    fresh = (
        "HashAggregate(keys=[], functions=[partial_count(o_custkey#11L) FILTER (WHERE (gid#20 = 1)), "
        "partial_count(o_orderstatus#12) FILTER (WHERE (gid#20 = 2))])\n"
        "+- Exchange hashpartitioning(o_custkey#21L, o_orderstatus#22, gid#20, 4), ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "   +- Expand [[null, null, 0], [o_custkey#11L, null, 1], [null, o_orderstatus#12, 2]], "
        "[o_custkey#21L, o_orderstatus#22, gid#20]"
    )
    later = (
        "HashAggregate(keys=[], functions=[partial_count(o_custkey#511L) FILTER (WHERE (gid#520 = 2)), "
        "partial_count(o_orderstatus#512) FILTER (WHERE (gid#520 = 1))])\n"
        "+- Exchange hashpartitioning(o_orderstatus#522, o_custkey#521L, gid#520, 4), ENSURE_REQUIREMENTS, [plan_id=97]\n"
        "   +- Expand [[null, null, 0], [o_orderstatus#512, null, 1], [null, o_custkey#511L, 2]], "
        "[o_orderstatus#522, o_custkey#521L, gid#520]"
    )
    assert fresh != later
    assert normalize_plan(fresh) == normalize_plan(later)
    other = fresh.replace("o_orderstatus", "o_orderdate")
    assert normalize_plan(other) != normalize_plan(fresh)


def test_plan_hash_normalizes_core_count_tokens():
    """normalize_plan must scrub core-count-derived tokens so the SAME
    query code hashes identically at local[32] and local[8]: the driver
    benches both, and in round 10 `RoundRobinPartitioning(N)` (from
    parallel_scan's repartition(cores)) and `Range(..., splits=N)`
    flipped 10 of 56 headliner hashes between the two runs, making
    hash-unchanged⇒noise attribution unsound (VERDICT r10 item 2)."""
    from edinet_etl_spark.planhash import normalize_plan

    a = (
        "Exchange RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=12]\n"
        "+- Range (0, 1, step=1, splits=32)"
    )
    b = (
        "Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=99]\n"
        "+- Range (0, 1, step=1, splits=8)"
    )
    assert normalize_plan(a) == normalize_plan(b)


@pytest.mark.deep
def test_plans_md_is_current_for_whole_registry(plan_spark):
    """PLANS.md freshness gate over EVERY registered query: recompute
    the audit columns that encode scale posture (exchanges, join kinds,
    python islands) and require them to match the committed inventory
    exactly.  Catches both silent plan regressions (a lost broadcast, a
    new shuffle, work pulled into Python) and a stale PLANS.md after an
    operator change — either way the fix is explicit: investigate the
    plan or regenerate via `PYTHONPATH=. python tools/plan_audit.py`.

    Streaming queries execute their (availableNow) streams during plan
    construction, so this is deep-tier; the curated EXPECTATIONS above
    stay in the fast tier."""
    import re as _re

    from tools.plan_audit import SF_DIR as AUDIT_SF_DIR
    from tools.plan_audit import audit

    committed: dict[str, tuple[str, str, str]] = {}
    row_re = _re.compile(r"^\| (\S+) \| (\S+) \| (.*?) \| (\S+) \| ")
    with open("PLANS.md") as fh:
        for line in fh:
            m = row_re.match(line)
            if m and m.group(1) != "query":
                committed[m.group(1)] = (m.group(2), m.group(3), m.group(4))

    assert set(committed) == set(registry.QUERIES), (
        "PLANS.md row set out of sync with the registry — regenerate"
    )
    mismatches = []
    for name in sorted(registry.QUERIES):
        plan = plan_of(plan_spark, name)
        a = audit(plan)
        got = (str(a["exchanges"]), a["joins"], a["python"])
        if got != committed[name]:
            mismatches.append((name, committed[name], got))
        # a query fn may re-enable AQE via prep(); re-pin
        plan_spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert not mismatches, (
        f"{len(mismatches)} plan-audit rows drifted from PLANS.md "
        f"(committed vs live): {mismatches[:5]} — investigate or "
        "regenerate tools/plan_audit.py"
    )
    assert AUDIT_SF_DIR == SF_DIR
