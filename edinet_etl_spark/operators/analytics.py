"""M3 analytics surface beyond the reference: full aggregation/window
coverage (SURVEY.md §2.4-§2.5 "not present" lists, made present).

Windows: rank/dense_rank/row_number, lag/lead, running frames
(rowsBetween), range frames (rangeBetween), ntile, top-k per group.
Aggregates: count_distinct, approx_count_distinct (HLL),
cube/rollup/grouping sets, pivot.

Scale notes: every window here partitions by a key (never a global
ORDER BY-only window, which would serialize onto one task).  Range/row
frames run inside the per-partition sort — one shuffle each.  cube/
rollup expand grouping sets via a single Expand node, not N scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import _dec_to_double, dec, dsum, sql_dsum
from edinet_etl_spark.blocks import ranked_salt, sql_ranked_salt
from edinet_etl_spark.exprs import SQL_REVENUE, revenue
from edinet_etl_spark.prefix import range_prefix_sum, range_row_number
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize, scratch_dir
from edinet_etl_spark.tables import load


@query(
    "customer_rank_in_nation",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(ROW_NUMBER() OVER w_total AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC),
           w_total AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    covers=["W-extended", "A1"],
)
def customer_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio; row_number gets a total order (tiebreak c_custkey)
    so it is deterministic, rank/dense_rank share ties by design."""
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    w_total = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return customer.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w_total).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


@query(
    "order_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    covers=["W-extended", "F18"],
)
def order_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over a total per-customer order (the distributed form of
    the reference's positional "next elements after marker" F18)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - prev).alias("delta_prev"),
    )


@query(
    "running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS running_spend,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_orders
    FROM orders
    """,
    covers=["W-extended"],
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total frame (rowsBetween).  The frame sum is exact
    decimal: prefix sums are order-sensitive by definition, so the
    ordering is total and the arithmetic exact."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        # decimal → STRING → double: the numeric.py portability hop
        # (direct decimal→double can double-round differently across
        # engines past ~15 significant digits)
        F.sum(dec(F.col("o_totalprice")))
        .over(w)
        .cast("string")
        .cast("double")
        .alias("running_spend"),
        F.count("*").over(w).cast("bigint").alias("running_orders"),
    )


@query(
    "yearly_spend_range_frame",
    oracle="""
    SELECT o_custkey, order_year,
           CAST(CAST(SUM(SUM(CAST(o_totalprice AS DECIMAL(18,8)))) OVER (
             PARTITION BY o_custkey ORDER BY order_year
             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS spend_2yr
    FROM (
      SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS order_year, o_totalprice
      FROM orders
    )
    GROUP BY o_custkey, order_year
    """,
    covers=["W-extended"],
)
def yearly_spend_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range frame over a numeric ordering column: trailing-2-year spend
    per customer (rangeBetween -1..0 on the year axis)."""
    orders = load(spark, sf_dir, "orders")
    yearly = (
        orders.withColumn("order_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("o_custkey", "order_year")
        .agg(F.sum(dec(F.col("o_totalprice"))).alias("_spend_dec"))
    )
    w = Window.partitionBy("o_custkey").orderBy("order_year").rangeBetween(-1, 0)
    return yearly.select(
        "o_custkey",
        "order_year",
        F.sum("_spend_dec").over(w).cast("string").cast("double").alias("spend_2yr"),
    )


@query(
    "top3_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    covers=["W-extended", "L1"],
)
def top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the distributed replacement for the reference's
    per-group head-N idiom; Spark runs it as a windowed rank with
    partial top-k pushdown (WindowGroupLimit) before the shuffle."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@query(
    "customer_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(4) OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
           ) AS BIGINT) AS quartile
    FROM customer
    """,
    covers=["W-extended"],
)
def customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@query(
    "sales_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    covers=["A-extended"],
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping sets in one Expand+Aggregate (no re-scan)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "sales_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    covers=["A-extended"],
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum(revenue, "revenue")
    )


@query(
    "order_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    covers=["A-extended"],
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (same Catalyst plan as the DF API)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "distinct_part_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    covers=["A-extended", "U3"],
)
def distinct_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (Expand-based plan)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def _kmv_k() -> int:
    # deferred import (sketches registers its own queries on import);
    # the assert pins the oracle literals (64 / 63) to the shared dial.
    from edinet_etl_spark.operators.sketches import _KMV_K

    assert _KMV_K == 64, "approx_distinct_parts oracle hardcodes k=64"
    return _KMV_K


@query(
    "approx_distinct_parts",
    oracle="""
    WITH hashed AS (
      SELECT DISTINCT l_returnflag, l_linestatus,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag, l_linestatus, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                                ORDER BY h) AS rn
      FROM hashed
    ), kth AS (
      SELECT l_returnflag, l_linestatus, h AS hk, rn AS n_kept FROM (
        SELECT *, MAX(rn) OVER (PARTITION BY l_returnflag, l_linestatus)
                    AS max_rn
        FROM ranked WHERE rn <= 64
      ) WHERE rn = max_rn
    )
    SELECT l_returnflag, l_linestatus,
           CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                ELSE 63 * CAST(4503599627370496 AS DOUBLE) / hk
           END AS approx_parts
    FROM kth
    ORDER BY l_returnflag, l_linestatus
    """,
    covers=["A-extended", "M6-sketch"],
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct parts per (returnflag, linestatus) — the
    100 TB path where an exact distinct would shuffle every key.

    Round-6 graduation: the estimator is now the hash-DETERMINISTIC
    KMV sketch (k smallest 52-bit md5 hashes, D ≈ (k−1)·2⁵²/h₍ₖ₎)
    instead of ``approx_count_distinct`` (HLL), whose engine-internal
    estimate forced a rows-only driver check.  Both engines replay the
    identical sketch, so the approximate answer itself hash-compares
    bit-exactly — zero rows-only entries remain in the registry.
    Unlike ``kmv_distinct_estimate`` (per returnflag, with the exact
    arm as an honesty check) this is the PRODUCTION shape: composite
    group key, estimate only, no exact-count branch anywhere in the
    plan.

    Scale: the per-group state is ≤ k=64 hashes, mergeable by
    re-taking the k smallest of a union; the shuffle carries distinct
    hashes only (the ``.distinct()`` map-side combines), and the
    final window sorts ≤ k rows per group."""
    k = _kmv_k()
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_partkey"
    )
    hashed = li.select(
        "l_returnflag",
        "l_linestatus",
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy("h")
    w_all = Window.partitionBy("l_returnflag", "l_linestatus")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .withColumn("max_rn", F.max("rn").over(w_all))
        .filter(F.col("rn") == F.col("max_rn"))
    )
    est = F.when(F.col("max_rn") < k, F.col("max_rn").cast("double")).otherwise(
        (F.lit(k - 1) * F.lit(4503599627370496.0)) / F.col("h")
    )
    return (
        kth.select("l_returnflag", "l_linestatus", est.alias("approx_parts"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "quantity_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,8)) END) AS VARCHAR) AS DOUBLE) AS qty_O,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,8)) END) AS VARCHAR) AS DOUBLE) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    covers=["A-extended"],
)
def quantity_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let Spark scan for pivot
    values at 100 TB — pass them)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec(F.col("l_quantity"))).cast("string").cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
        .orderBy("l_returnflag")
    )


@query(
    "percentile_stats",
    oracle="""
    SELECT o_orderpriority,
           median(o_totalprice) AS median_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    covers=["A-extended"],
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + min/max.  (percentile_approx is the 100 TB path;
    exact median here so the oracle comparison is well-defined.)"""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.median("o_totalprice").alias("median_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


_N_SALTS = 16


@query(
    "salted_returnflag_totals",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity', 'total_qty')}
    FROM lineitem GROUP BY l_returnflag
    """,
    covers=["A-extended"],
)
def salted_returnflag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation by salting: l_returnflag has only 3
    values, so a direct groupBy funnels the whole fact table into 3
    reducer partitions — the classic straggler at 100 TB.  Two-stage
    form: salt = crc32(stable row id) % {_N_SALTS} widens stage one to
    3×{_N_SALTS} groups; stage two merges {_N_SALTS} partials per key.
    Decimal partials re-aggregate exactly, so the result is
    bit-identical to the direct plan (the oracle IS the direct plan).
    The salt must be a *deterministic* function of row identity — a
    rand() salt breaks retry/speculative-execution idempotence.
    """
    li = load(spark, sf_dir, "lineitem")
    salt = F.crc32(
        F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    ) % _N_SALTS
    partial = (
        li.withColumn("salt", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(dec(F.col("l_quantity"))).alias("pqty"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("pqty").cast("string").cast("double").alias("total_qty"),
    )


@query(
    "lineitem_metrics_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val
    FROM lineitem
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
    covers=["A-extended"],
)
def lineitem_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): four measure columns become
    (metric, val) rows — the inverse of pivot, needed whenever a
    metrics store wants one row per (entity, metric).  Spark's
    ``unpivot`` is a single Expand node: one scan, row count ×4, no
    shuffle; raw values pass through bit-exact (no aggregation)."""
    li = load(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@query(
    "fuzzy_name_pairs",
    oracle=f"""
    WITH blocked AS (
      SELECT p_partkey, p_name, p_brand, p_size,
             {sql_ranked_salt(['p_brand', 'p_size'], 'p_partkey', 64)} AS salt
      FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM blocked a
    JOIN blocked b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.salt = b.salt AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    covers=["M6-dedup", "J-extended", "F5"],
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching with blocking: candidate pairs only
    within a (brand, size) block — the same block-then-compare shape as
    LSH dedup, with edit distance as the comparator.  Levenshtein is
    O(len²) per pair, so the equi-join block bound (not n²) is what
    makes it feasible at scale; both engines implement the classic
    Wagner-Fischer distance, so the threshold cut is identical.

    (brand, size) is a FIXED vocabulary, so block size grows linearly
    with the corpus and within-block pairs quadratically — the 10×
    probe measured 7.3×.  Guard: the repo's standard ranked sub-block
    salt (cap 64, same scheme as `embedding_neardup_blocked`/LSH)
    keeps pair work linear in block size; cross-sub-block pairs are
    the documented recall trade (no-op at test scale: sf0.1 blocks
    max out under the cap, results identical)."""
    part = load(spark, sf_dir, "part").withColumn(
        "salt", ranked_salt(["p_brand", "p_size"], "p_partkey", 64)
    )
    a = part.alias("a")
    b = part.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )


@query(
    "deterministic_sample_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_sampled, {sql_dsum('o_totalprice', 'sampled_total')}
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 2) <= '14'
    """,
    covers=["A-extended", "P-extended"],
)
def deterministic_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~8% hash sample (md5 prefix ≤ '14'/'ff').  Unlike ``rand()``
    sampling, a key-hash predicate is reproducible across runs, plans,
    task retries, AND engines — the only sampling that composes with
    retry semantics and an external oracle.  It also pushes down as an
    ordinary predicate, and the same key always lands in (or out of)
    the sample, so samples of joinable tables stay joinable."""
    od = load(spark, sf_dir, "orders")
    sampled = od.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "14"
    )
    return sampled.agg(
        F.count("*").alias("n_sampled"),
        dsum(F.col("o_totalprice"), "sampled_total"),
    )


@query(
    "nations_per_region_listagg",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    covers=["A-extended"],
)
def nations_per_region_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg): collect_list has no deterministic
    order under distribution, so sort the array before joining —
    the only portable listagg (matches ORDER BY inside string_agg)."""
    nation = load(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "price_quantity_corr",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS sxy
      FROM lineitem
    )
    SELECT (n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    """,
    covers=["A-extended"],
)
def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT moment sums.  Built-in ``corr``
    accumulates co-moments in floating point — its low bits depend on
    the partial-aggregation tree, so it is nondeterministic on a
    cluster and unmatchable across engines.  Summing x, y, x², y², xy
    as decimals and finishing the closed form in double is
    deterministic everywhere; the products carry ≤4 intrinsic decimal
    digits, so DECIMAL(28,8) holds them exactly."""
    li = load(spark, sf_dir, "lineitem")

    def dsum_to_double(c, alias):
        return F.sum(c.cast("decimal(28,8)")).cast("string").cast("double").alias(alias)

    s = li.agg(
        F.count("*").alias("n"),
        dsum_to_double(F.col("l_quantity"), "sx"),
        dsum_to_double(F.col("l_extendedprice"), "sy"),
        dsum_to_double(F.col("l_quantity") * F.col("l_quantity"), "sxx"),
        dsum_to_double(F.col("l_extendedprice") * F.col("l_extendedprice"), "syy"),
        dsum_to_double(F.col("l_quantity") * F.col("l_extendedprice"), "sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return s.select(corr.alias("corr_qty_price"))


@query(
    "price_histogram",
    oracle="""
    SELECT bucket, COUNT(*) AS n,
           CAST(900.0 + 10.0 * bucket AS DOUBLE) AS bucket_lo
    FROM (
      SELECT CAST(floor((p_retailprice - 900.0) / 10.0) AS INT) AS bucket
      FROM part
    )
    GROUP BY bucket
    """,
    covers=["A-extended"],
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via arithmetic bucketing — floor((x-lo)/w)
    is engine-portable (unlike width_bucket variants) and the groupBy
    shuffles only |buckets| partial rows."""
    part = load(spark, sf_dir, "part")
    bucket = F.floor((F.col("p_retailprice") - 900.0) / 10.0).cast("int")
    return (
        part.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn("bucket_lo", (900.0 + 10.0 * F.col("bucket")).cast("double"))
    )


@query(
    "orders_upsert_merge",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, 'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ), merged AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM updates
      UNION ALL
      SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus
      FROM orders o
      WHERE o.o_orderkey % 10 <> 0
    )
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderstatus
    FROM merged WHERE o_orderkey < 500
    """,
    covers=["J4", "U-extended"],
)
def orders_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation on plain parquet (``layout.merge_upsert``):
    every 10th order gets an updated price/status; merged snapshot =
    updates ∪ anti-joined base.  The +100.0 update is exact in double,
    so the merged values hash-match the SQL formulation."""
    from edinet_etl_spark.layout import merge_upsert

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return merge_upsert(orders, updates, "o_orderkey").filter(
        F.col("o_orderkey") < 500
    )


@query(
    "order_value_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           percent_rank() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS pct_rank,
           cume_dist() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS cum_frac,
           nth_value(o_totalprice, 3) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_lowest_price
    FROM orders
    WHERE o_custkey < 100
    """,
    covers=["W-extended"],
)
def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window trio: percent_rank (relative rank
    in [0,1]), cume_dist (fraction at-or-below), nth_value with an
    explicit whole-partition frame.  Total ORDER BY (o_orderkey ties)
    makes all three deterministic; rank/dist are (int-1)/(int-1) and
    int/int divisions — portable.  One window shuffle."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_frac"),
        F.nth_value("o_totalprice", 3).over(w_full).alias("third_lowest_price"),
    )


@query(
    "salted_hotkey_join_totals",
    oracle=f"""
    WITH skewed AS (
      SELECT CASE WHEN l_quantity < 26 THEN 0 ELSE l_suppkey END AS merchant_key,
             l_extendedprice
      FROM lineitem
    ), dim AS (
      SELECT s_suppkey AS merchant_key,
             CASE WHEN s_suppkey = 0 THEN 'AGGREGATOR' ELSE s_name END AS merchant_name
      FROM supplier
      UNION ALL SELECT 0, 'AGGREGATOR'
    )
    SELECT merchant_name, COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice', 'total_price')}
    FROM skewed JOIN dim USING (merchant_key)
    GROUP BY merchant_name
    ORDER BY merchant_name
    """,
    covers=["SC-skew", "J-extended"],
)
def salted_hotkey_join_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof JOIN by salting (the join-side twin of
    salted_returnflag_totals): half the fact rows collapse onto one hot
    merchant key, which under a plain shuffle join would land on a
    single reducer.  Salted form: the fact side appends
    salt = crc32(row identity) % {{S}} to its join key; the dim side is
    replicated ×S via explode(sequence) — the join key becomes
    (key, salt), spreading the hot key over S reducers.  The oracle is
    the UNSALTED join: bit-equality proves salting is a pure physical
    rewrite.  (AQE's skew-join split is the automatic alternative; the
    explicit form works for aggregations-after-join and stateful
    streaming joins where AQE can't help.)  The salt is deterministic —
    rand() would break task-retry idempotence."""
    n_salts = 8
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    skewed = li.select(
        F.when(F.col("l_quantity") < 26, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("merchant_key"),
        "l_extendedprice",
        (
            F.crc32(F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber")))
            % n_salts
        ).alias("salt"),
    )
    dim = (
        supplier.select(
            F.col("s_suppkey").alias("merchant_key"),
            F.when(F.col("s_suppkey") == 0, "AGGREGATOR")
            .otherwise(F.col("s_name"))
            .alias("merchant_name"),
        )
        .unionByName(
            supplier.sparkSession.range(1).select(
                F.lit(0).cast("long").alias("merchant_key"),
                F.lit("AGGREGATOR").alias("merchant_name"),
            )
        )
        .select(
            "merchant_key",
            "merchant_name",
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
        )
    )
    return (
        skewed.join(dim, ["merchant_key", "salt"])
        .groupBy("merchant_name")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice"), "total_price"),
        )
        .orderBy("merchant_name")
    )


@query(
    "scd2_customer_dim",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST('2024-01-01' AS DATE) AS valid_from,
           CASE WHEN c_custkey % 7 = 0 THEN CAST('2024-06-01' AS DATE)
                ELSE NULL END AS valid_to,
           (c_custkey % 7 <> 0) AS is_current
    FROM customer
    UNION ALL
    SELECT c_custkey, 'UPDATED',
           CAST('2024-06-01' AS DATE), NULL, TRUE
    FROM customer WHERE c_custkey % 7 = 0
    """,
    covers=["J-extended", "U-extended", "X-maintenance"],
)
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: a versioned customer dimension
    after one update batch (every 7th customer's segment changes).
    The Spark side runs the GENERIC `layout.scd2_merge` algorithm —
    change detection via null-safe attribute compare, close-out ∥
    append via semi/anti joins + union; the oracle states the expected
    versioned table directly.  Deliberately different derivations:
    the merge must REDISCOVER which rows changed.

    The no-op-update guard is exercised: the update batch contains
    EVERY customer (unchanged segments for 6/7 of them), and only real
    changes version."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        cust.withColumn("valid_from", F.lit("2024-01-01").cast("date"))
        .withColumn("valid_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    updates = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, "UPDATED").otherwise(
            F.col("c_mktsegment")
        ),
    )
    from edinet_etl_spark.layout import scd2_merge

    return scd2_merge(
        base, updates, "c_custkey", ["c_mktsegment"], "2024-06-01"
    )


def _zorder_oracle() -> str:
    from edinet_etl_spark.layout import sql_zorder_value

    day = "date_diff('day', DATE '1992-01-01', o_orderdate)"
    z = sql_zorder_value("o_custkey", day)
    return f"""
    WITH coded AS (
      SELECT ({z}) >> 22 AS curve_bucket,
             o_custkey AS k,
             CAST({day} AS BIGINT) AS d
      FROM orders
    )
    SELECT curve_bucket, COUNT(*) AS n_rows,
           MIN(k) AS custkey_min, MAX(k) AS custkey_max,
           MIN(d) AS day_min, MAX(d) AS day_max
    FROM coded GROUP BY curve_bucket
    """


@query(
    "zorder_locality_stats",
    oracle=_zorder_oracle(),
    covers=["M6-layout"],
)
def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve locality, measured: orders mapped onto
    the (o_custkey, order-day) Z-curve, bucketed by the code's high
    bits (= contiguous curve segments = what one file/row-group holds
    under a Z-order layout), reporting each bucket's row count and its
    min/max EXTENT in both dimensions.

    The point of the numbers: under a Z-order layout every bucket's
    custkey span AND date span are narrow simultaneously, so a 2-D
    predicate skips most buckets by footer min/max — the write-side
    companion is `layout.write_zordered_orders`, whose file-skipping
    win over a single-key sort is measured in tests/test_layout.py.
    Pure codegen bit algebra + ONE aggregate exchange; the same
    expression Z-orders a 100 TB fact at write time."""
    from edinet_etl_spark.layout import zorder_value

    od = load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast(
        "bigint"
    )
    z = zorder_value(F.col("o_custkey").cast("bigint"), day)
    return (
        od.select(
            F.shiftright(z, 22).alias("curve_bucket"),
            F.col("o_custkey").alias("k"),
            day.alias("d"),
        )
        .groupBy("curve_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("custkey_min"),
            F.max("k").alias("custkey_max"),
            F.min("d").alias("day_min"),
            F.max("d").alias("day_max"),
        )
    )


# Incremental-maintenance split point: orders strictly before this date
# are the "already-materialized" base; the rest is the arriving delta.
_INC_SPLIT = "1997-01-01"


@query(
    "incremental_agg_maintenance",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           {sql_dsum('o_totalprice', 'total_revenue')},
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority, CAST(year(o_orderdate) AS BIGINT)
    """,
    covers=["A-extended", "M6-maintenance"],
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate incremental maintenance: the revenue
    rollup is kept as MERGEABLE PARTIALS (exact-decimal sum + count per
    group), so when a delta batch arrives only the delta is aggregated
    and merged with the stored partials — history is never rescanned.
    Here the orders table is split at {_INC_SPLIT} into base
    ("already materialized") and delta ("arriving batch"); the query
    runs the real maintenance path — partial(base) ∪ partial(delta) →
    merge → finalize — while the ORACLE is the single-pass full
    recompute.  They agree bit-for-bit because decimal addition is
    exact and associative (`numeric.py`): the merge order cannot
    perturb the result, which is precisely the contract that makes
    incremental maintenance safe to deploy.

    Scale: stored partials are one row per group (constant size);
    each refresh costs one delta scan + one group-keyed merge shuffle
    of partial rows.  The same (sum, count) pair also finalizes to
    AVG — the standard mergeable-aggregate trick.  Compare
    `streaming_cdc_snapshot` (row-level upsert maintenance);
    this is the aggregate-level analogue."""
    orders = load(spark, sf_dir, "orders")
    split = F.lit(_INC_SPLIT).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        ).agg(
            F.sum(dec(F.col("o_totalprice"))).alias("s"),
            F.count("*").alias("c"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "order_year")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .select(
            "o_orderpriority",
            "order_year",
            F.col("s").cast("string").cast("double").alias("total_revenue"),
            F.col("c").cast("bigint").alias("n_orders"),
        )
    )


@query(
    "customer_spend_trend",
    oracle="""
    WITH yearly AS (
      SELECT c_nationkey,
             CAST(EXTRACT(year FROM o_orderdate) - 1998 AS BIGINT) AS dx,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,3)) * 1000
                           AS BIGINT)) AS BIGINT) AS y_m
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, dx
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           CAST(CAST(SUM(y_m) AS BIGINT) AS DOUBLE) / 1000.0 AS total_spend,
           CAST(CAST(COUNT(*) AS BIGINT) * CAST(SUM(dx * y_m) AS BIGINT)
                - CAST(SUM(dx) AS BIGINT) * CAST(SUM(y_m) AS BIGINT) AS DOUBLE)
           / CAST((CAST(COUNT(*) AS BIGINT) * CAST(SUM(dx * dx) AS BIGINT)
                   - CAST(SUM(dx) AS BIGINT) * CAST(SUM(dx) AS BIGINT)) * 1000
                  AS DOUBLE) AS slope_per_year
    FROM yearly
    GROUP BY c_nationkey
    HAVING COUNT(*) >= 2
    ORDER BY c_nationkey
    """,
    covers=["A-extended", "J1", "F4"],
)
def customer_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation spend trend: the exact ordinary-least-squares slope of
    yearly order revenue — the model-free forecasting feature next to
    `forecast_revenue_change`'s single-year what-if (reference Q6
    analogue, /root/reference/src/transform.py has no regression
    surface at all).

    Numeric path (the CLAUDE.md no-libm discipline, extended to
    regression): money is moved onto an INTEGER milli-unit grid
    (DECIMAL(18,3) cast — one digit finer than the data's 2-decimal
    resolution, so no rounding-midpoint ties — then x1000 to BIGINT).
    Years are centered at 1998 so every sum stays tiny; the OLS slope
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is then PURE int64 arithmetic with
    exactly ONE rounding operation: the final double division (the
    /1000 de-scaling is folded into the divisor, so it costs no second
    rounding).  Magnitude ceiling: |num| < n * 3 * total_milli_spend —
    overflows int64 only past ~sf1000, documented here.

    Plan: fact-fact join on custkey (AQE picks broadcast at small SF,
    sort-merge at scale — no forced hint per the growth-law audit),
    ONE shuffle for the (nation, year) partial-agg rollup, then a
    25-row second aggregate.  Shuffle bytes ~ group count, not rows."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    y_milli = (
        F.col("o_totalprice").cast("decimal(18,3)") * F.lit(1000)
    ).cast("bigint")
    yearly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            "c_nationkey",
            (F.year("o_orderdate") - F.lit(1998)).cast("bigint").alias("dx"),
        )
        .agg(F.sum(y_milli).cast("bigint").alias("y_m"))
    )
    return ols_slope_by_group(yearly, "c_nationkey").orderBy("c_nationkey")


def ols_slope_by_group(yearly: DataFrame, key: str) -> DataFrame:
    """Exact integer OLS over (key, dx, y_m) rows → (key, n_years,
    total_spend, slope_per_year); y_m is on the milli-unit grid, dx is
    the centered regressor.  Factored for the property test
    (`tests/test_properties.py`: Fraction-model equivalence for ANY
    integer point set)."""
    n = F.count("*").cast("bigint")
    sdx = F.sum("dx").cast("bigint")
    sdx2 = F.sum(F.col("dx") * F.col("dx")).cast("bigint")
    sy = F.sum("y_m").cast("bigint")
    sdxy = F.sum(F.col("dx") * F.col("y_m")).cast("bigint")
    return (
        yearly.groupBy(key)
        .agg(
            n.alias("n_years"),
            (sy.cast("double") / F.lit(1000.0)).alias("total_spend"),
            (
                (n * sdxy - sdx * sy).cast("double")
                / ((n * sdx2 - sdx * sdx) * F.lit(1000)).cast("double")
            ).alias("slope_per_year"),
        )
        .filter(F.col("n_years") >= 2)
    )


@query(
    "cdc_apply_changes",
    oracle="""
    WITH changes AS (
      SELECT user_id + 1400 AS key,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op,
             value AS balance, ts, event_id
      FROM events
    ), latest AS (
      SELECT key, op, balance FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
        FROM changes) WHERE rn = 1
    )
    SELECT c_custkey AS key, c_acctbal AS balance FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.key = c_custkey)
    UNION ALL
    SELECT key, balance FROM latest WHERE op <> 'D'
    """,
    covers=["X-maintenance", "J4", "A1", "M5-stream"],
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC apply (`layout.apply_changes`): the events feed acts
    as a Debezium-style changelog over the customer snapshot —
    signup→INSERT, error→DELETE, anything else→UPDATE, key shifted by
    +1400 so the batch exercises updates AND tombstones on existing
    keys (1400–1499) AND inserts of never-seen keys (1500+).
    Last-writer-wins by (ts, event_id); a key whose final op is a
    delete vanishes from the snapshot.  This is the ordered,
    tombstone-aware big sibling of `merge_upsert`, and the batch
    counterpart of the streaming `streaming_cdc_snapshot` sink.

    Plan: the changelog collapses to one row per key with ONE window
    shuffle on the delta (never the snapshot); reconciliation is one
    anti join + union — snapshot-side cost is a single hash join
    regardless of history length.  Balances are copied, not
    aggregated, so every value compares bit-exact."""
    from edinet_etl_spark.layout import apply_changes

    customers = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("balance")
    )
    changes = load(spark, sf_dir, "events").select(
        (F.col("user_id") + 1400).alias("key"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("value").alias("balance"),
        "ts",
        "event_id",
    )
    return apply_changes(customers, changes, "key", ["ts", "event_id"])


@query(
    "schema_evolution_read",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
    ), v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    ), u AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT COALESCE(o_orderpriority, 'LEGACY') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM u GROUP BY 1
    """,
    covers=["S-extended", "X-maintenance", "F13"],
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a plain parquet lake: a table written by an
    OLD writer (no `o_orderpriority` column — even-keyed orders) and a
    NEW writer (odd-keyed) is read back as ONE table with
    ``mergeSchema=true`` — Spark unions the footer schemas and
    null-fills the missing column for legacy files, which is exactly
    how a 100 TB lake absorbs a column addition with zero rewrite of
    history.  Legacy rows surface as 'LEGACY' via COALESCE (the
    read-side default a table format would store as column metadata).

    Plan/scale: schema merging is a FOOTER-level operation (one
    metadata read per file, no data pass); the aggregate afterward is
    an ordinary partial-agg shuffle.  The oracle models the same read
    as a typed UNION with NULL for the missing column — the relational
    definition of schema-evolved scan."""
    import os
    import shutil

    od = load(spark, sf_dir, "orders")
    base = scratch_dir(spark, sf_dir, "schevo")
    shutil.rmtree(base, ignore_errors=True)
    od.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.parquet(os.path.join(base, "b1"))
    od.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.parquet(os.path.join(base, "b2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b1"), os.path.join(base, "b2")
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("LEGACY")).alias("priority")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


@query(
    "pareto_frontier_orders",
    oracle="""
    WITH pp AS (
      SELECT o_totalprice AS price, MAX(o_orderdate) AS dmax
      FROM orders GROUP BY o_totalprice
    ),
    r AS (
      SELECT price, dmax,
             MAX(dmax) OVER (ORDER BY price DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS run
      FROM pp
    ),
    sky AS (SELECT price, dmax FROM r WHERE run IS NULL OR dmax > run)
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    JOIN sky g ON o.o_totalprice = g.price AND o.o_orderdate = g.dmax
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    covers=["W-extended", "A2"],
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: every order no other
    order beats on BOTH price and recency — maximize (o_totalprice,
    o_orderdate); a dominates b iff a >= b in both dims and > in one.
    Ties on both dims are mutually non-dominated and all kept (the
    standard skyline definition).

    For a 2-D skyline the sort-based algorithm is exact: collapse to
    per-price max-date, then a price-descending running max of date —
    a price group is on the frontier iff its max date strictly exceeds
    every strictly-higher-price group's date.  The global pass is a
    single-task window, so it CANNOT run over the raw fact table at
    lake scale.  Scale shape = the canonical two-level distributed
    skyline: a deterministic bucket key (xxhash64(o_orderkey) mod 32)
    partitions the table, each bucket computes its LOCAL skyline with
    per-bucket windows (full parallelism, one shuffle), and only the
    ~O(log n)-sized union of local skylines reaches the global
    single-task pass.  Local pruning is lossless: a locally-dominated
    row is globally dominated by the same (transitive) dominator, and
    per-price date maxima over the candidate union equal those over
    the full table for every surviving group.  At 100 TB the global
    stage sees a few thousand rows regardless of input size."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    bucketed = orders.withColumn(
        "b", F.pmod(F.xxhash64("o_orderkey"), F.lit(32))
    )
    # local per-bucket skyline: per-(bucket, price) date max, then the
    # strict-higher-price running max inside the bucket
    lpp = bucketed.groupBy("b", "o_totalprice").agg(
        F.max("o_orderdate").alias("dmax")
    )
    wl = (
        Window.partitionBy("b")
        .orderBy(F.col("o_totalprice").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lsky = (
        lpp.withColumn("run", F.max("dmax").over(wl))
        .filter(F.col("run").isNull() | (F.col("dmax") > F.col("run")))
        .select(
            F.col("b").alias("sky_b"),
            F.col("o_totalprice").alias("sky_price"),
            F.col("dmax").alias("sky_date"),
        )
    )
    cand = bucketed.join(
        lsky,
        (F.col("b") == F.col("sky_b"))
        & (F.col("o_totalprice") == F.col("sky_price"))
        & (F.col("o_orderdate") == F.col("sky_date")),
    ).select("o_orderkey", "o_totalprice", "o_orderdate")
    # global pass over the tiny candidate union — identical logic
    gpp = cand.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("dmax"))
    wg = Window.orderBy(F.col("o_totalprice").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    gsky = (
        gpp.withColumn("run", F.max("dmax").over(wg))
        .filter(F.col("run").isNull() | (F.col("dmax") > F.col("run")))
        .select(
            F.col("o_totalprice").alias("gsky_price"),
            F.col("dmax").alias("gsky_date"),
        )
    )
    return (
        cand.join(
            gsky,
            (F.col("o_totalprice") == F.col("gsky_price"))
            & (F.col("o_orderdate") == F.col("gsky_date")),
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH byval AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    cum AS (
      SELECT l_returnflag, price, cnt, w,
             SUM(w) OVER (
               PARTITION BY l_returnflag ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      FROM byval
    )
    SELECT l_returnflag,
           CAST(SUM(cnt) AS BIGINT) AS n_items,
           CAST(MAX(totw) AS BIGINT) AS total_qty,
           MIN(CASE WHEN 2 * cumw >= totw THEN price END)
             AS weighted_median_price
    FROM cum
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    covers=["W-extended", "A-extended"],
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median: per return flag, the smallest extended
    price whose cumulative quantity reaches half the group's total
    quantity — "the price at which half the UNITS (not half the line
    items) trade".  The per-unit robust center `value_mad_outliers`'s
    unweighted median can't express.

    All admission math is exact int64 (quantities are integral;
    2·cumw ≥ totw cross-multiplies away the half) and the answer is an
    existing data value — no interpolation, no float accumulation.
    Weights at equal prices merge BEFORE the cumulative scan, so ranks
    are over distinct values and need no tie-break columns.

    Scale: the fact table first collapses to distinct (flag, price)
    pairs with map-side-combined SUM(qty) — the cumulative window then
    runs over the collapsed set, bounded by distinct prices per flag,
    not row count.  (The first cut windowed the RAW rows: with only 3
    flags the per-group scan serialized and the 10x probe measured
    7.9x; after the collapse the same probe is ~1x — recorded in
    SCALE.md.)  `binned_quantile_sketch` remains the constant-state
    fallback if distinct values themselves blow up."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    byval = li.groupBy("l_returnflag", "price").agg(
        F.sum("qty").cast("bigint").alias("w"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = byval.select(
        "l_returnflag",
        "price",
        "cnt",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wtot).alias("totw"),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_items"),
            F.max("totw").cast("bigint").alias("total_qty"),
            F.min(
                F.when(F.lit(2) * F.col("cumw") >= F.col("totw"), F.col("price"))
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "nation_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey,
             l.l_suppkey AS suppkey,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,8))) AS DECIMAL(18,4)) AS rev4
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    pern AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(CAST(SUM(rev4) AS VARCHAR) AS DOUBLE) AS total_revenue,
             CAST(CAST(SUM(CAST(rev4 AS DECIMAL(19,4)) * rev4) AS VARCHAR)
                  AS DOUBLE) AS sum_sq
      FROM rev GROUP BY nationkey
    )
    SELECT n.n_name AS nation,
           p.n_suppliers,
           p.total_revenue,
           p.sum_sq / (p.total_revenue * p.total_revenue) AS hhi
    FROM pern p JOIN nation n ON n.n_nationkey = p.nationkey
    ORDER BY nation
    """,
    covers=["A-extended", "J1"],
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: HHI = SUM(share_i^2) over a nation's suppliers, the
    standard market-concentration index (1/n = perfectly even, 1.0 =
    monopoly) — the "is one supplier dominating this market?" gate a
    procurement or data-sourcing dashboard runs.

    Exactness: per-supplier revenue goes through the decimal-sum
    discipline and is then FIXED at its intrinsic 4-dp grid
    (2-dp price x 2-dp discount factor), so rev4 is an exact
    DECIMAL(18,4) in both engines; rev4*rev4 (DECIMAL multiply) and
    its SUM stay exact; HHI itself is computed as
    dbl(SUM(rev^2)) / (dbl(SUM(rev)))^2 — two string-hop conversions
    of identical decimals, one IEEE multiply, one IEEE divide, all
    correctly rounded and engine-identical.  No per-share division
    inside the sum, so no float accumulation anywhere.

    Scale: one map-side-combined aggregate on (nationkey, suppkey) —
    the natural pre-aggregation key — then a 25-group rollup and a
    broadcast decode to nation names.  The supplier table itself is
    never joined in bulk; only its (suppkey -> nationkey) projection
    rides the fact-side shuffle.  At 100 TB this is the same two-level
    agg shape as `revenue_by_nation_year` (SCALE.md's flagship law)."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("decimal(18,4)")
            .alias("rev4")
        )
    )
    pern = rev.groupBy("nationkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("rev4").cast("string").cast("double").alias("total_revenue"),
        F.sum(F.col("rev4") * F.col("rev4"))
        .cast("string")
        .cast("double")
        .alias("sum_sq"),
    )
    return (
        pern.join(F.broadcast(nat), pern.nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            "total_revenue",
            (F.col("sum_sq") / (F.col("total_revenue") * F.col("total_revenue"))).alias(
                "hhi"
            ),
        )
        .orderBy("nation")
    )


@query(
    "segment_spend_gini",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    ranked AS (
      SELECT segment, cents,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY segment ORDER BY cents, custkey) AS BIGINT) AS i
      FROM spend
    ),
    sums AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
             SUM(CAST(i AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS six
      FROM ranked GROUP BY segment
    )
    SELECT segment, n_customers,
           CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 100.0 AS total_spend,
           (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE)
              - (n_customers + 1) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
             / (n_customers * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS gini
    FROM sums
    ORDER BY segment
    """,
    covers=["A-extended", "W-extended"],
)
def segment_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend inside each market segment —
    the inequality statistic behind "do 20% of customers drive 80% of
    revenue?", computed EXACTLY: G = (2*SUM(i*x_i) - (n+1)*SUM(x)) /
    (n*SUM(x)) with x ascending and i the within-segment rank.

    Exactness: spend is fixed to integer CENTS up front (o_totalprice
    is intrinsically 2-dp; DECIMAL(18,2)*100 -> BIGINT is exact in
    both engines — never double*100, which truncates under the
    floating grid); ranks are pinned by (cents, custkey); the rank-
    weighted products accumulate in DECIMAL(38,0) so the formula
    survives n ~ 10^8 customers x 10^10-cent spends without int64
    overflow; the only float ops are two string-hop conversions and
    the final fused arithmetic — identical IEEE sequences in both
    engines.

    Scale: per-customer totals are a map-side-combined aggregate on
    the orders fact; the rank window partitions by segment (5 groups —
    the documented per-group-volume skew law shared with
    `weighted_median_price`; the binned sketch is the constant-state
    fallback), then a 5-row reduce.  Never a global un-partitioned
    window."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("c_custkey").alias("custkey"))
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    wr = Window.partitionBy("segment").orderBy("cents", "custkey")
    ranked = spend.select(
        "segment", "cents", F.row_number().over(wr).cast("bigint").alias("i")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = ranked.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(d38("cents")).alias("sx"),
        F.sum(d38("i") * d38("cents")).alias("six"),
    )
    sx_d = F.col("sx").cast("string").cast("double")
    six_d = F.col("six").cast("string").cast("double")
    return sums.select(
        "segment",
        "n_customers",
        (sx_d / F.lit(100.0)).alias("total_spend"),
        (
            (F.lit(2.0) * six_d - (F.col("n_customers") + 1) * sx_d)
            / (F.col("n_customers") * sx_d)
        ).alias("gini"),
    ).orderBy("segment")


@query(
    "join_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM counts
    ),
    top AS (
      SELECT CAST(MIN(key) AS BIGINT) AS top_key
      FROM counts WHERE cnt = (SELECT MAX(cnt) FROM counts)
    ),
    dist AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS freq FROM counts GROUP BY cnt),
    cum AS (
      SELECT cnt,
             SUM(freq) OVER (
               ORDER BY cnt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumfreq
      FROM dist
    ),
    sel AS (
      SELECT
        CAST(MIN(CASE WHEN 2 * cumfreq >= (SELECT n_keys FROM s)
                 THEN cnt END) AS BIGINT) AS p50_cnt,
        CAST(MIN(CASE WHEN 100 * cumfreq >= 99 * (SELECT n_keys FROM s)
                 THEN cnt END) AS BIGINT) AS p99_cnt
      FROM cum
    )
    SELECT s.n_keys, s.total_rows, s.max_cnt, top.top_key,
           sel.p50_cnt, sel.p99_cnt,
           CAST(s.max_cnt * s.n_keys AS DOUBLE)
             / CAST(s.total_rows AS DOUBLE) AS skew_factor
    FROM s, top, sel
    """,
    covers=["SC-skew", "A-extended"],
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key frequency profile for lineitem.l_partkey — the
    measurement that DECIDES whether `salted_hotkey_join_totals`-style
    salting is needed before a big join: distinct-key count, the
    heaviest key and its row count, nearest-rank p50/p99 of the per-key
    frequency distribution, and `skew_factor` = max_cnt / (total/n_keys)
    (how many times heavier the hottest key is than the average; AQE's
    skew threshold reasoning uses exactly this ratio).

    Exactness: everything except `skew_factor` is int64; the percentile
    admissions cross-multiply (2*cum >= n, 100*cum >= 99*n) so no
    division enters selection; `skew_factor` is one exact int64 product
    converted to double (< 2^53) and one IEEE division — engine-identical.
    Tie on the hottest key resolves to MIN(key).

    Scale: stage 1 is a map-side-combined count on the key (the same
    shuffle the downstream join would pay, so the profile piggybacks on
    known-affordable work); stage 2 collapses to the count-of-counts
    distribution, which has at most O(sqrt(total_rows)) rows (k distinct
    frequencies need >= k(k+1)/2 underlying rows), so the partition-less
    ordered window over it is bounded regardless of fact size; the three
    one-row legs broadcast-cross-join into the single output row."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    s = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        # argmax with tie -> MIN(key): max over (cnt, -key), then negate.
        F.max(F.struct(F.col("cnt"), (-F.col("key")).alias("nk"))).alias("mx"),
    ).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        (-F.col("mx.nk")).cast("bigint").alias("top_key"),
    )
    dist = counts.groupBy("cnt").agg(F.count("*").cast("bigint").alias("freq"))
    wc = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = dist.select("cnt", F.sum("freq").over(wc).alias("cumfreq"))
    sel = cum.crossJoin(F.broadcast(s.select("n_keys"))).agg(
        F.min(F.when(2 * F.col("cumfreq") >= F.col("n_keys"), F.col("cnt")))
        .cast("bigint")
        .alias("p50_cnt"),
        F.min(F.when(100 * F.col("cumfreq") >= 99 * F.col("n_keys"), F.col("cnt")))
        .cast("bigint")
        .alias("p99_cnt"),
    )
    return s.crossJoin(F.broadcast(sel)).select(
        "n_keys",
        "total_rows",
        "max_cnt",
        "top_key",
        "p50_cnt",
        "p99_cnt",
        (
            (F.col("max_cnt") * F.col("n_keys")).cast("double")
            / F.col("total_rows").cast("double")
        ).alias("skew_factor"),
    )


def _segment_price_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Order totalprice per customer market segment, collapsed to its
    distinct values: ``byval`` (segment, price, cnt), and ``cum`` adds
    each value's running count ``cumcnt`` and the segment total ``n``
    — one shuffle to (segment, price), one bounded per-segment window.
    The shared front of the exact per-segment order statistics."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price")
    )
    byval = seg.groupBy("segment", "price").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("segment")
    cum = byval.select(
        "segment",
        "price",
        "cnt",
        F.sum("cnt").over(wcum).alias("cumcnt"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    return byval, cum


@query(
    "exact_group_percentiles",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    byval AS (
      SELECT segment, price, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seg GROUP BY segment, price
    ),
    cum AS (
      SELECT segment, price,
             SUM(cnt) OVER (
               PARTITION BY segment ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
             SUM(cnt) OVER (PARTITION BY segment) AS n
      FROM byval
    )
    SELECT segment,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           MIN(CASE WHEN 2 * cumcnt >= n THEN price END) AS p50,
           MIN(CASE WHEN 10 * cumcnt >= 9 * n THEN price END) AS p90,
           MIN(CASE WHEN 100 * cumcnt >= 99 * n THEN price END) AS p99
    FROM cum
    GROUP BY segment
    ORDER BY segment
    """,
    covers=["W-extended", "A-extended"],
)
def exact_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p90/p99) of order totalprice
    per market segment — the SLA-style "what does the 99th-percentile
    order look like per segment" question, answered exactly (the
    binned `binned_quantile_sketch` is the mergeable approximation;
    this is its exact complement, same selection-by-cumulative-weight
    machinery as `weighted_median_price`).

    Exactness: the answer is always an existing data value — the
    smallest price whose cumulative order count reaches ceil(p*n) —
    and every admission cross-multiplies to integers
    (2*cum >= n, 10*cum >= 9n, 100*cum >= 99n), so no float arithmetic
    exists anywhere in the query.  Nearest-rank needs no tie-break
    columns: the cumulative window orders by the VALUE and the groupBy
    collapsed duplicates first, so ranks are over distinct values.

    Scale: the fact table first collapses to distinct (segment, price)
    pairs with a map-side-combined count — the window then runs over
    the collapsed set (bounded by distinct prices per segment, not
    rows).  One shuffle for the segment join is avoided entirely: the
    orders->customer join shuffles on custkey (no broadcast hint;
    customer grows with SF — AQE converts at runtime if small), then
    one shuffle to (segment, price).  If one segment's distinct-value
    set ever outgrew a partition, the binned two-pass sketch is the
    documented fallback."""
    _byval, cum = _segment_price_counts(spark, sf_dir)
    return (
        cum.groupBy("segment")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.min(F.when(2 * F.col("cumcnt") >= F.col("n"), F.col("price"))).alias("p50"),
            F.min(
                F.when(10 * F.col("cumcnt") >= 9 * F.col("n"), F.col("price"))
            ).alias("p90"),
            F.min(
                F.when(100 * F.col("cumcnt") >= 99 * F.col("n"), F.col("price"))
            ).alias("p99"),
        )
        .orderBy("segment")
    )


_COMPACT_TARGET = 32768  # bytes per output bin (constant, SF-independent)


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH files AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(24 + length(o_orderstatus)
                      + length(o_orderpriority)) AS BIGINT) AS bytes
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    planned AS (
      SELECT day, bytes,
             (SUM(bytes) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - bytes) // {_COMPACT_TARGET} AS bin_id
      FROM files
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(day) AS first_day, MAX(day) AS last_day
    FROM planned
    GROUP BY bin_id
    ORDER BY bin_id
    """,
    covers=["SC-layout", "A-extended"],
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the OPTIMIZE step every
    date-partitioned lake needs: given per-day "file" sizes (a
    deterministic per-row byte estimate standing in for real footer
    sizes), assign consecutive days to target-size bins by
    START-OFFSET binning: bin = floor(preceding cumulative bytes /
    target).  Date-contiguous bins preserve partition-pruning
    locality after the rewrite (unlike first-fit-decreasing, which
    scatters dates and is inherently sequential — this form is the
    parallelizable one a distributed planner actually uses).

    Exactness: sizes, cumulative sums, and integer DIV are all int64;
    bins never split a file; dates pass through untouched.

    Scale: the fact scan collapses map-side to one row per day; the
    partition-less cumulative window runs over |days| rows — bounded
    by the calendar (36.5 k rows per century), CONSTANT in data size,
    the defining property that makes this plan safe at 100 TB.  The
    plan's output feeds `layout.overwrite_one_day`-style rewrites
    bin by bin."""
    o = load(spark, sf_dir, "orders")
    files = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(
            F.lit(24)
            + F.length("o_orderstatus")
            + F.length("o_orderpriority")
        )
        .cast("bigint")
        .alias("bytes")
    )
    return pack_bins(files, _COMPACT_TARGET)


def pack_bins(files: DataFrame, target: int) -> DataFrame:
    """Start-offset binning core over any (day, bytes) frame (factored
    for the hypothesis model test)."""
    planned = files.select(
        "day",
        "bytes",
        F.expr(
            f"(sum(bytes) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING"
            f" AND CURRENT ROW) - bytes) DIV {target}"
        ).alias("bin_id"),
    )
    return (
        planned.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .select(
            F.col("bin_id").cast("bigint").alias("bin_id"),
            "n_files",
            "total_bytes",
            "first_day",
            "last_day",
        )
        .orderBy("bin_id")
    )


@query(
    "winsorized_segment_stats",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    byval AS (
      SELECT segment, price, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seg GROUP BY segment, price
    ),
    cum AS (
      SELECT segment, price, cnt,
             SUM(cnt) OVER (
               PARTITION BY segment ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
             SUM(cnt) OVER (PARTITION BY segment) AS n
      FROM byval
    ),
    thr AS (
      SELECT segment,
             MIN(CASE WHEN 100 * cumcnt >= n THEN price END) AS p01,
             MIN(CASE WHEN 100 * cumcnt >= 99 * n THEN price END) AS p99
      FROM cum GROUP BY segment
    ),
    clipped AS (
      SELECT b.segment, b.cnt,
             b.price,
             CASE WHEN b.price < t.p01 THEN t.p01
                  WHEN b.price > t.p99 THEN t.p99
                  ELSE b.price END AS wprice,
             t.p01, t.p99
      FROM byval b JOIN thr t ON t.segment = b.segment
    )
    SELECT segment,
           CAST(SUM(cnt) AS BIGINT) AS n_orders,
           MAX(p01) AS p01, MAX(p99) AS p99,
           CAST(CAST(SUM(CAST(price AS DECIMAL(18,8)) * cnt) AS VARCHAR)
                AS DOUBLE) / SUM(cnt) AS raw_mean,
           CAST(CAST(SUM(CAST(wprice AS DECIMAL(18,8)) * cnt) AS VARCHAR)
                AS DOUBLE) / SUM(cnt) AS winsorized_mean
    FROM clipped
    GROUP BY segment
    ORDER BY segment
    """,
    covers=["A-extended", "W-extended"],
)
def winsorized_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per segment — the robust center a metrics
    pipeline reports when a few whale orders would swamp the plain
    mean: clip every price into the exact nearest-rank [p01, p99]
    band, then average.  Composes this module's two exact primitives:
    distinct-value cumulative SELECTION (`exact_group_percentiles`)
    for the thresholds and the decimal-sum discipline for the mean —
    beside `value_mad_outliers` (which flags outliers) this one
    REMOVES their leverage.

    Exactness: thresholds are data values picked by integer
    cross-multiplied admissions; clipping is a CASE (no arithmetic);
    both means are exact DECIMAL sums of (value x count) over the
    collapsed grid, string-hopped once, divided once.

    Scale: everything after the (segment, price) collapse operates on
    distinct values, never raw rows — the winsorized sum needs NO
    second fact scan because Σ clip(v)·cnt is computable from the same
    collapsed grid that selected the thresholds; the threshold table
    (|segments| rows) broadcasts back."""
    byval, cum = _segment_price_counts(spark, sf_dir)
    thr = cum.groupBy("segment").agg(
        F.min(F.when(100 * F.col("cumcnt") >= F.col("n"), F.col("price"))).alias(
            "p01"
        ),
        F.min(
            F.when(100 * F.col("cumcnt") >= 99 * F.col("n"), F.col("price"))
        ).alias("p99"),
    )
    clipped = byval.join(F.broadcast(thr), "segment").select(
        "segment",
        "cnt",
        "price",
        F.when(F.col("price") < F.col("p01"), F.col("p01"))
        .when(F.col("price") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("price"))
        .alias("wprice"),
        "p01",
        "p99",
    )
    total = F.sum("cnt")
    return (
        clipped.groupBy("segment")
        .agg(
            total.cast("bigint").alias("n_orders"),
            F.max("p01").alias("p01"),
            F.max("p99").alias("p99"),
            (
                F.sum(dec(F.col("price")) * F.col("cnt"))
                .cast("string")
                .cast("double")
                / total
            ).alias("raw_mean"),
            (
                F.sum(dec(F.col("wprice")) * F.col("cnt"))
                .cast("string")
                .cast("double")
                / total
            ).alias("winsorized_mean"),
        )
        .orderBy("segment")
    )


@query(
    "region_nation_revenue_shares",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,8))) AS revd
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(CAST(revd AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(revd) OVER (PARTITION BY region) AS VARCHAR)
                    AS DOUBLE) AS share_of_region,
           CAST(CAST(revd AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(revd) OVER () AS VARCHAR) AS DOUBLE)
             AS share_of_total
    FROM rev
    ORDER BY region, nation
    """,
    covers=["W-extended", "A-extended", "J1"],
)
def region_nation_revenue_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent contribution ladder (the BI ratio-to-report
    shape): each nation's revenue with its share of its REGION and of
    the WORLD — two nested ratio windows over the same 25-row grid.

    Exactness: the numerator AND both window denominators stay in
    exact DECIMAL until one string-hopped conversion each — window
    SUM over decimals is associative, so the whole-partition fold
    order (which engines do NOT pin for unordered frames) cannot
    matter.  (The first cut window-summed the doubles and the driver
    mirror caught the 1-ulp fold-order divergence immediately —
    exactly the failure class the decimal discipline exists for.)

    Scale: the heavy work is the same broadcast-star fact aggregate as
    `revenue_by_nation_year`; both share windows run on the constant
    25-row result — the denominators never touch the fact table."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revd"
            )
        )
    )
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    w_region = Window.partitionBy("region")
    w_total = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        dbl(F.col("revd")).alias("revenue"),
        (dbl(F.col("revd")) / dbl(F.sum("revd").over(w_region))).alias(
            "share_of_region"
        ),
        (dbl(F.col("revd")) / dbl(F.sum("revd").over(w_total))).alias(
            "share_of_total"
        ),
    ).orderBy("region", "nation")


@query(
    "spend_quartile_mobility",
    oracle="""
    WITH spend AS (
      SELECT o_custkey AS custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1995-07-01' THEN 1 ELSE 2 END
               AS period,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY o_custkey,
               CASE WHEN o_orderdate < TIMESTAMP '1995-07-01' THEN 1 ELSE 2 END
    ),
    ranked AS (
      SELECT custkey, period,
             CAST(NTILE(4) OVER (
               PARTITION BY period ORDER BY cents, custkey) AS BIGINT)
               AS quartile
      FROM spend
    )
    SELECT a.quartile AS q_before, b.quartile AS q_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM ranked a JOIN ranked b
      ON a.custkey = b.custkey AND a.period = 1 AND b.period = 2
    GROUP BY a.quartile, b.quartile
    ORDER BY q_before, q_after
    """,
    covers=["W-extended", "A-extended", "EV-mobility"],
)
def spend_quartile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile mobility matrix — the period-over-period cohort
    movement analysis behind churn and upsell dashboards: each
    customer's spend quartile before vs after a cut date, as a 4×4
    transition-count matrix (the diagonal is stability, below it is
    churn risk).  Only customers active in BOTH periods transition.

    Exactness: spend is integer cents (2-dp grid × 100, exact);
    NTILE(4) is pure rank arithmetic — both engines fill the first
    (n mod 4) buckets one heavier — and the order is pinned by
    (cents, custkey), so bucket boundaries are deterministic.

    Scale: one map-side spend collapse, one per-period ranking window
    (two partitions, each bounded by customers-per-period — at 100 TB
    the binned two-pass selection replaces the exact NTILE, same
    trade as every grouped exact selection here), and a self-join on
    custkey that AQE plans as a normal hash join on the collapsed
    per-customer table, never the fact table."""
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.when(
            F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"), 1
        )
        .otherwise(2)
        .alias("period"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("period").orderBy("cents", "custkey")
    ranked = spend.select(
        "custkey", "period", F.ntile(4).over(w).cast("bigint").alias("quartile")
    )
    a = ranked.filter(F.col("period") == 1).select(
        "custkey", F.col("quartile").alias("q_before")
    )
    b = ranked.filter(F.col("period") == 2).select(
        F.col("custkey").alias("custkey_b"), F.col("quartile").alias("q_after")
    )
    return (
        a.join(b, a.custkey == b.custkey_b)
        .groupBy("q_before", "q_after")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("q_before", "q_after")
    )


def _q_exprs(p_num: int):
    """Columns for the type-7 interpolated quartile p_num/4 evaluated
    over the cum frame (price, cnt, cumcnt, n): lower/upper order
    statistics by integer-admission selection."""
    fl = (F.col("n") - 1) * p_num
    lo_rank = F.expr(f"(n - 1) * {p_num} DIV 4 + 1")
    rem = fl % 4  # quarter fraction numerator: 0..3, exact
    lo = F.min(F.when(F.col("cumcnt") >= lo_rank, F.col("price")))
    hi = F.min(F.when(F.col("cumcnt") >= lo_rank + 1, F.col("price")))
    return lo, hi, rem


@query(
    "interpolated_quartiles",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    byval AS (
      SELECT segment, price, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seg GROUP BY segment, price
    ),
    cum AS (
      SELECT segment, price, cnt,
             SUM(cnt) OVER (
               PARTITION BY segment ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
             SUM(cnt) OVER (PARTITION BY segment) AS n
      FROM byval
    ),
    sel AS (
      SELECT segment, CAST(MAX(n) AS BIGINT) AS n_orders,
        MIN(CASE WHEN cumcnt >= (n-1) * 1 // 4 + 1 THEN price END) AS lo1,
        MIN(CASE WHEN cumcnt >= (n-1) * 1 // 4 + 2 THEN price END) AS hi1,
        MAX((n-1) * 1 % 4) AS r1,
        MIN(CASE WHEN cumcnt >= (n-1) * 2 // 4 + 1 THEN price END) AS lo2,
        MIN(CASE WHEN cumcnt >= (n-1) * 2 // 4 + 2 THEN price END) AS hi2,
        MAX((n-1) * 2 % 4) AS r2,
        MIN(CASE WHEN cumcnt >= (n-1) * 3 // 4 + 1 THEN price END) AS lo3,
        MIN(CASE WHEN cumcnt >= (n-1) * 3 // 4 + 2 THEN price END) AS hi3,
        MAX((n-1) * 3 % 4) AS r3
      FROM cum GROUP BY segment
    )
    SELECT segment, n_orders,
           lo1 + (COALESCE(hi1, lo1) - lo1) * (r1 * 0.25) AS q1,
           lo2 + (COALESCE(hi2, lo2) - lo2) * (r2 * 0.25) AS median,
           lo3 + (COALESCE(hi3, lo3) - lo3) * (r3 * 0.25) AS q3
    FROM sel
    ORDER BY segment
    """,
    covers=["A-extended", "W-extended"],
)
def interpolated_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (PERCENTILE_CONT, type-7) quartiles per segment —
    the complement of `exact_group_percentiles`' nearest-rank form:
    the value at fractional rank h = (n−1)p + 1, linearly interpolated
    between the two surrounding order statistics.  Implemented with
    the SAME distinct-value cumulative-selection machinery on both
    engines rather than the built-ins, because PERCENTILE_CONT tie
    conventions differ across engines — here the rank arithmetic is
    pinned explicitly.

    Exactness: both order statistics are data values picked by
    integer admissions; the quarter fraction r/4 is EXACT in binary
    (r·0.25 with r ∈ {{0,1,2,3}}), so the interpolation is three
    deterministic IEEE ops — the same budget as `gapfill_linear_interp`.

    Scale: identical two-collapse shape as the nearest-rank family —
    distinct-value collapse, bounded per-segment window, constant
    output."""
    _byval, cum = _segment_price_counts(spark, sf_dir)
    aggs = [F.max("n").cast("bigint").alias("n_orders")]
    parts = {}
    for p_num, name in ((1, "q1"), (2, "median"), (3, "q3")):
        lo, hi, rem = _q_exprs(p_num)
        aggs += [
            lo.alias(f"lo{p_num}"),
            hi.alias(f"hi{p_num}"),
            F.max(rem).alias(f"r{p_num}"),
        ]
        parts[name] = p_num
    sel = cum.groupBy("segment").agg(*aggs)
    cols = ["segment", "n_orders"]
    out = sel
    for name, p_num in parts.items():
        lo_c = F.col(f"lo{p_num}")
        hi_c = F.coalesce(F.col(f"hi{p_num}"), lo_c)
        out = out.withColumn(
            name, lo_c + (hi_c - lo_c) * (F.col(f"r{p_num}") * F.lit(0.25))
        )
        cols.append(name)
    return out.select(*cols).orderBy("segment")


def _sql_rank2(col: str) -> str:
    """DuckDB CTE body: distinct values of ``col`` with 2x tie-averaged
    rank (prev_cum + cum + 1 — integer, the Mann-Whitney trick)."""
    return f"""
      SELECT {col} AS v,
             SUM(cnt) OVER (ORDER BY {col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 2
               - cnt + 1 AS r2
      FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY {col})
    """


@query(
    "spearman_rank_corr",
    oracle=f"""
    WITH rx AS ({_sql_rank2('l_extendedprice')}),
    ry AS ({_sql_rank2('l_quantity')}),
    joined AS (
      SELECT rx.r2 AS x, ry.r2 AS y
      FROM lineitem l
      JOIN rx ON rx.v = l.l_extendedprice
      JOIN ry ON ry.v = l.l_quantity
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      FROM joined
    )
    SELECT n AS n_rows,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
             AS spearman_rho
    FROM m
    """,
    covers=["A-extended", "W-extended"],
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between price and quantity — the
    robust, outlier-immune complement to `price_quantity_corr`'s
    Pearson: Pearson computed on tie-averaged RANKS.  Working with
    2×rank (the Mann-Whitney integer trick) keeps every rank and every
    moment exact: the numerator and both variance terms are computed
    EXACTLY in DECIMAL(38,0) before one string-hopped conversion each,
    then two correctly-rounded sqrts and one division — scale factors
    from the doubled ranks cancel in ρ.

    Scale: two distinct-value collapses build the rank maps — but the
    PRICE domain barely collapses (59,821 distinct of ~60k rows at
    sf0.01, ~linear in SF: the round-10 boundedness lint's worst
    catch), so the cumulative rank is spelled as the range-partitioned
    two-level prefix sum (`prefix.range_prefix_sum`) instead of a
    single-task global window — the only serial step is the O(P)
    partition-offset scan.  Rows join the price map on its value
    (hash) and the ~50-value quantity map (AQE broadcast); one
    map-side-combined moment aggregate.  DECIMAL(38,0) holds the
    moments to ~10^31 — beyond sf1000; the headroom law is documented
    rather than assumed."""
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")

    def rank2(col: str) -> DataFrame:
        byval = li.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        return range_prefix_sum(byval, ["v"], F.col("cnt"), "cum").select(
            "v",
            (F.col("cum") * 2 - F.col("cnt") + 1).alias("r2"),
        )

    rx = rank2("l_extendedprice").withColumnRenamed("r2", "x")
    ry = rank2("l_quantity").withColumnRenamed("r2", "y")
    joined = (
        li.join(rx, li.l_extendedprice == rx.v)
        .drop("v")
        .join(ry, li.l_quantity == ry.v)
        .select("x", "y")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = joined.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x") * F.col("y")).alias("sxy"),
        F.sum(d38("x") * F.col("x")).alias("sxx"),
        F.sum(d38("y") * F.col("y")).alias("syy"),
    )
    dbl = lambda c: c.cast("string").cast("double")  # noqa: E731
    num = dbl(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = dbl(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = dbl(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return m.select(
        F.col("n").alias("n_rows"),
        (num / (F.sqrt(vx) * F.sqrt(vy))).alias("spearman_rho"),
    )


@query(
    "modal_quantity_per_flag",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ),
    mx AS (
      SELECT l_returnflag, MAX(cnt) AS max_cnt,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_qty
      FROM counts GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           CAST(MIN(c.qty) AS BIGINT) AS modal_qty,
           CAST(MAX(c.cnt) AS BIGINT) AS modal_count,
           MAX(m.n_distinct_qty) AS n_distinct_qty
    FROM counts c JOIN mx m
      ON m.l_returnflag = c.l_returnflag AND c.cnt = m.max_cnt
    GROUP BY c.l_returnflag
    ORDER BY c.l_returnflag
    """,
    covers=["A-extended"],
)
def modal_quantity_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE() — the most frequent value per group, with the tie pinned
    to the smallest value (engine-native mode() functions leave ties
    unspecified, so the election is spelled out: count per value,
    per-group max count, argmin value at that count).  The ordered-set
    aggregate that rounds out the central-tendency set beside mean
    (`pricing_summary`), median (`percentile_stats`), weighted median
    and the winsorized mean.

    Exactness: pure integer counting and MIN/MAX elections.

    Scale: value-collapse map-side (the same first stage as every
    selection here), then all logic on the |flags|×|distinct qty|
    grid; the per-group max joins back on the collapsed grid only."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    mx = counts.groupBy("l_returnflag").agg(
        F.max("cnt").alias("max_cnt"),
        F.count("*").cast("bigint").alias("n_distinct_qty"),
    )
    c = counts.select(
        F.col("l_returnflag").alias("flag"), "qty", "cnt"
    )
    return (
        c.join(
            F.broadcast(mx),
            (c.flag == mx.l_returnflag) & (c.cnt == mx.max_cnt),
        )
        .groupBy("l_returnflag")
        .agg(
            F.min("qty").cast("bigint").alias("modal_qty"),
            F.max("cnt").cast("bigint").alias("modal_count"),
            F.max("n_distinct_qty").alias("n_distinct_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "nation_revenue_rank_shift",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,8))) AS revd
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE year(o.o_orderdate) IN (1996, 1997)
      GROUP BY n.n_name, year(o.o_orderdate)
    ),
    ranked AS (
      SELECT nation, yr,
             CAST(ROW_NUMBER() OVER (PARTITION BY yr
               ORDER BY revd DESC, nation) AS BIGINT) AS rnk,
             CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS revenue
      FROM rev
    )
    SELECT a.nation,
           a.rnk AS rank_y1, b.rnk AS rank_y2,
           a.rnk - b.rnk AS rank_gain,
           a.revenue AS revenue_y1, b.revenue AS revenue_y2
    FROM ranked a JOIN ranked b
      ON a.nation = b.nation AND a.yr = 1996 AND b.yr = 1997
    ORDER BY a.nation
    """,
    covers=["W-extended", "A-extended", "J1"],
)
def nation_revenue_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement — each nation's supplier-revenue rank in
    1996 vs 1997 and its gain (the "top movers" board every
    period-over-period report leads with).  Ranks are ROW_NUMBER over
    the decimal-exact revenue with name-pinned ties; the rank
    arithmetic is pure int64 and the revenue surfaces through the
    string hop.

    Scale: one fact aggregate (the flagship star shape filtered to two
    years), then all ranking on the 25×2 grid; the self-join matches
    on the grid only."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revd"
            )
        )
    )
    w = Window.partitionBy("yr").orderBy(F.col("revd").desc(), "nation")
    ranked = rev.select(
        "nation",
        "yr",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.col("revd").cast("string").cast("double").alias("revenue"),
    )
    a = ranked.filter(F.col("yr") == 1996).select(
        "nation", F.col("rnk").alias("rank_y1"), F.col("revenue").alias("revenue_y1")
    )
    b = ranked.filter(F.col("yr") == 1997).select(
        F.col("nation").alias("nation_b"),
        F.col("rnk").alias("rank_y2"),
        F.col("revenue").alias("revenue_y2"),
    )
    return (
        a.join(b, a.nation == b.nation_b)
        .select(
            "nation",
            "rank_y1",
            "rank_y2",
            (F.col("rank_y1") - F.col("rank_y2")).alias("rank_gain"),
            "revenue_y1",
            "revenue_y2",
        )
        .orderBy("nation")
    )


_TE_SMOOTH_M = 20  # pseudo-count weight of the global prior


@query(
    "target_encoding_loo",
    oracle=f"""
    WITH y AS (
      SELECT c.c_custkey, c.c_mktsegment AS segment,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,8))) AS spend_dec
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ), g AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(spend_dec) AS s_g_dec
      FROM y GROUP BY segment
    ), t AS (
      SELECT SUM(s_g_dec) AS s_all_dec,
             CAST(SUM(n_g) AS BIGINT) AS n_all
      FROM g
    ), fin AS (
      SELECT y.c_custkey, y.segment,
             CAST(CAST(y.spend_dec AS VARCHAR) AS DOUBLE) AS spend,
             CAST(CAST(g.s_g_dec AS VARCHAR) AS DOUBLE) AS s_g,
             g.n_g,
             CAST(CAST(t.s_all_dec AS VARCHAR) AS DOUBLE) AS s_all,
             t.n_all
      FROM y JOIN g ON g.segment = y.segment, t
    )
    SELECT c_custkey, segment, spend,
           (s_g - spend) / (n_g - 1) AS loo_te,
           (s_g + {_TE_SMOOTH_M} * (s_all / n_all))
             / (n_g + {_TE_SMOOTH_M}) AS smoothed_te
    FROM fin ORDER BY c_custkey
    """,
    covers=["A-extended", "J1", "M6-curation"],
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-target encoding of a categorical feature (segment → mean
    customer spend), in the two leak-safe forms every tabular-ML
    pipeline ships: LEAVE-ONE-OUT (each row's own target excluded —
    (S_g − y_i)/(n_g − 1), the encoding that does not memorize the
    row) and m-ESTIMATE smoothing toward the global prior
    ((S_g + m·ȳ)/(n_g + m), m=20 — shrinks rare categories).  No RNG,
    no fold machinery: both forms are closed-form per row.

    Exactness: the three aggregation levels stay IN DECIMAL end to
    end (per-customer, per-segment, global — the CUPED discipline:
    segment sums reach ~7e10, past the quantize-a-double portability
    bound, which a per-level string hop would trip); one exact
    decimal→string→double conversion per quantity at the end, then
    identical correctly-rounded subtract/divide chains in both
    engines.

    Scale: two map-side-combinable aggregates + a broadcast join of
    the |segments|-row encoder table back to rows — the encode pass is
    one scan; at 100 TB the encoder table is still 5 rows."""
    cust = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders")
    y = (
        cust.join(od, od["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(dec(F.col("o_totalprice"))).alias("spend_dec"))
    )
    g = y.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("spend_dec").alias("s_g_dec"),
    )
    t = g.agg(
        F.sum("s_g_dec").alias("s_all_dec"),
        F.sum("n_g").cast("bigint").alias("n_all"),
    )
    as_dbl = lambda c: F.col(c).cast("string").cast("double")
    return (
        y.join(F.broadcast(g), "segment")
        .crossJoin(F.broadcast(t))
        .withColumn("spend", as_dbl("spend_dec"))
        .withColumn("s_g", as_dbl("s_g_dec"))
        .withColumn("s_all", as_dbl("s_all_dec"))
        .select(
            "c_custkey",
            "segment",
            "spend",
            ((F.col("s_g") - F.col("spend")) / (F.col("n_g") - 1)).alias("loo_te"),
            (
                (F.col("s_g") + _TE_SMOOTH_M * (F.col("s_all") / F.col("n_all")))
                / (F.col("n_g") + _TE_SMOOTH_M)
            ).alias("smoothed_te"),
        )
        .orderBy("c_custkey")
    )


@query(
    "ab_assignment_srm_check",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_control,
             CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_treatment,
             CAST(SUM(n_events) FILTER (arm = 0) AS BIGINT) AS events_control,
             CAST(SUM(n_events) FILTER (arm = 1) AS BIGINT) AS events_treatment
      FROM assign
    )
    SELECT n_control, n_treatment, events_control, events_treatment,
           CAST(n_control - n_treatment AS DOUBLE)
             * (n_control - n_treatment) / (n_control + n_treatment)
             AS srm_chi2,
           CAST(CASE WHEN CAST(n_control - n_treatment AS DOUBLE)
                          * (n_control - n_treatment)
                          / (n_control + n_treatment) > 3.841
                THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM agg
    """,
    covers=["A-extended", "M6-quality"],
)
def ab_assignment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B arm assignment (hash parity over user_id — the
    assignment every experimentation platform derives, reproducible on
    any engine) plus the SAMPLE-RATIO-MISMATCH guard: the 1-df chi²
    of observed vs 50/50 expected counts, with the 0.05 critical value
    (3.841) inlined as a literal — an SRM flag means the bucketing or
    logging pipeline is broken and every downstream readout is invalid,
    which is why this check runs FIRST in any experiment analysis.
    Chi² here is pure integer arithmetic over counts (the (a−b)²/(a+b)
    simplification of the 2-cell statistic) — no libm.

    Scale: one user-collapse aggregate, one 2-cell reduction; the
    arm hash is codegen md5 — the same single-scan shape at any
    corpus size."""
    ev = load(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint")
        % 2
    )
    assign = ev.groupBy("user_id").agg(F.count("*").alias("n_events")).select(
        arm.alias("arm"), "n_events"
    )
    agg = assign.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("n_control"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("n_treatment"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_events"))).cast("bigint").alias("events_control"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_events"))).cast("bigint").alias("events_treatment"),
    )
    diff = F.col("n_control") - F.col("n_treatment")
    chi2 = diff.cast("double") * diff / (F.col("n_control") + F.col("n_treatment"))
    return agg.select(
        "n_control",
        "n_treatment",
        "events_control",
        "events_treatment",
        chi2.alias("srm_chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("bigint").alias("srm_flag"),
    )


_CONF_ALPHA_N = 10  # miscoverage = 1/10


@query(
    "split_conformal_coverage",
    oracle=f"""
    WITH y AS (
      SELECT c.c_custkey, c.c_mktsegment AS segment,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,8))) AS spend_dec
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ), g AS (
      SELECT segment, SUM(spend_dec) AS s_g_dec,
             CAST(COUNT(*) AS BIGINT) AS n_g
      FROM y WHERE c_custkey % 2 = 0 GROUP BY segment
    ), pred AS (
      SELECT y.c_custkey, y.c_custkey % 2 = 0 AS is_cal,
             CAST(CAST(y.spend_dec AS VARCHAR) AS DOUBLE)
               - CAST(CAST(g.s_g_dec AS VARCHAR) AS DOUBLE) / g.n_g AS resid
      FROM y JOIN g ON g.segment = y.segment
    ), cal AS (
      SELECT ABS(resid) AS score,
             ROW_NUMBER() OVER (ORDER BY ABS(resid), c_custkey) AS rnk,
             COUNT(*) OVER () AS n_cal
      FROM pred WHERE is_cal
    ), qhat AS (
      SELECT score AS q
      FROM cal
      WHERE rnk = CAST(CEIL((n_cal + 1) * ({_CONF_ALPHA_N} - 1.0)
                            / {_CONF_ALPHA_N}) AS BIGINT)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN ABS(resid) <= q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(SUM(CASE WHEN ABS(resid) <= q THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS coverage,
           MAX(q) AS q_hat
    FROM pred, qhat WHERE NOT is_cal
    """,
    covers=["A-extended", "W-extended", "M6-quality"],
)
def split_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT CONFORMAL PREDICTION, end to end: calibrate on even
    custkeys (predictor = calibration-set segment mean; score =
    |residual|; q̂ = the ⌈(n+1)(1−α)⌉-th order statistic, α=0.1), then
    measure empirical coverage of ŷ±q̂ on the held-out odd custkeys —
    the distribution-free interval guarantee (coverage ≥ 1−α in
    expectation) that modern ML serving stacks wrap around any point
    predictor.  Everything is exact: the quantile is an order
    statistic by ROW_NUMBER (ties broken by custkey), the predictor a
    decimal-native mean, coverage an integer ratio.

    Scale: the calibration quantile is ONE order statistic over the
    calibration set — which is HALF the customer roster (linear in
    SF; round-10 lint catch), so its global rank is the
    range-partitioned two-level row number
    (`prefix.range_row_number`, serial step O(P) only; at 100 TB the
    binned-quantile sketch substitutes, same as the KS pair);
    prediction + coverage is a broadcast-join scan.
    The hash-split (parity) is the same deterministic assignment the
    A/B and train/test splits use."""
    cust = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders")
    y = (
        cust.join(od, od["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(F.sum(dec(F.col("o_totalprice"))).alias("spend_dec"))
    )
    g = (
        y.filter(F.col("c_custkey") % 2 == 0)
        .groupBy("segment")
        .agg(
            F.sum("spend_dec").alias("s_g_dec"),
            F.count("*").cast("bigint").alias("n_g"),
        )
    )
    pred = y.join(F.broadcast(g), "segment").select(
        "c_custkey",
        (F.col("c_custkey") % 2 == 0).alias("is_cal"),
        (
            F.col("spend_dec").cast("string").cast("double")
            - F.col("s_g_dec").cast("string").cast("double") / F.col("n_g")
        ).alias("resid"),
    )
    # the calibration set is half the customer roster (linear in SF —
    # round-10 lint catch): the order statistic's global rank is the
    # range-partitioned two-level row number, and n_cal aggregates the
    # helper's checkpointed frame (not a second evaluation of the
    # scoring join), replacing the serial ROW_NUMBER + COUNT() OVER ()
    calsc = pred.filter("is_cal").select(
        F.abs("resid").alias("score"), "c_custkey"
    )
    cal_rnk = range_row_number(calsc, ["score", "c_custkey"], "rnk")
    cal = cal_rnk.crossJoin(
        F.broadcast(cal_rnk.agg(F.count("*").cast("bigint").alias("n_cal")))
    )
    qhat = cal.filter(
        F.col("rnk")
        == F.ceil((F.col("n_cal") + 1) * (_CONF_ALPHA_N - 1.0) / _CONF_ALPHA_N).cast(
            "bigint"
        )
    ).select(F.col("score").alias("q"))
    covered = F.sum(F.when(F.abs("resid") <= F.col("q"), 1).otherwise(0))
    return (
        pred.filter(~F.col("is_cal"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            covered.cast("bigint").alias("n_covered"),
            (covered.cast("double") / F.count("*")).alias("coverage"),
            F.max("q").alias("q_hat"),
        )
    )


# Poisson(1) CDF thresholds as 4-hex-digit literals (floor(P(X<=k)·16^4)
# for k=0..4; weights cap at 5).  Hardcoded so BOTH engines compare the
# same lowercase-hex md5 slice against the same string literals — no
# exp() at query time, no libm in any compared column.  4 hex digits =
# 65536 CDF levels (threshold quantization ≤ 1.5e-5 — statistically
# invisible for resample weights) so ONE 32-hex md5 yields EIGHT
# independent draws (disjoint bit ranges of a cryptographic hash):
# 16 resamples cost 2 md5 calls per row, not 16 — measured 8× less
# per-row hashing on the bootstrap scan.
_POIS_HEX = ("5e2d", "bc5a", "eb71", "fb23", "ff10")
_BOOT_B = 16


def _sql_pois_w(b: int) -> str:
    tag = "bootA" if b < 8 else "bootB"
    pos = 1 + 4 * (b % 8)
    u = f"substr(md5('{tag}:' || CAST(event_id AS VARCHAR)), {pos}, 4)"
    cases = " ".join(
        f"WHEN {u} < '{t}' THEN {k}" for k, t in enumerate(_POIS_HEX)
    )
    return f"(CASE {cases} ELSE 5 END)"


def _bootstrap_oracle() -> str:
    aggs = []
    for b in range(_BOOT_B):
        w = _sql_pois_w(b)
        aggs.append(
            f"SUM({w}::BIGINT) AS ne{b},\n"
            f"  CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))"
            f" * CAST({w} AS DECIMAL(10,0))) AS VARCHAR) AS DOUBLE) AS ws{b}"
        )
    sel = "\n      UNION ALL\n      ".join(
        f"SELECT {b} AS resample, ne{b} AS n_eff, ws{b} AS wsum FROM agg"
        for b in range(_BOOT_B)
    )
    return f"""
    WITH agg AS (
      SELECT {", ".join(aggs)} FROM events
    ), rows_ AS (
      {sel}
    ), means AS (
      SELECT resample, CAST(n_eff AS BIGINT) AS n_eff,
             wsum / CAST(n_eff AS DOUBLE) AS mean_boot
      FROM rows_
    )
    SELECT resample, n_eff, mean_boot,
           CAST(ROW_NUMBER() OVER (ORDER BY mean_boot, resample) AS BIGINT)
             AS rank_by_mean
    FROM means ORDER BY resample
    """


@query(
    "poisson_bootstrap_mean_ci",
    oracle=_bootstrap_oracle(),
    covers=["A-extended", "LLM-eval"],
)
def poisson_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean event value — the UNCERTAINTY
    ladder rung the experimentation family (SRM → CUPED → ANOVA → DiD)
    still lacked: B=16 deterministic resamples whose rank-ordered means
    ARE the percentile confidence interval (ranks 1/16 and 16/16 bound
    a ~88% CI).  Poisson(1) weights are THE scale-out bootstrap (each
    row draws its multiplicity independently — no shared N counter, so
    the resample is one scan, embarrassingly parallel; the classical
    multinomial bootstrap needs a global draw).

    Determinism without libm: the per-(row, b) weight compares a 4-hex
    md5 SLICE against HARDCODED Poisson-CDF hex literals (`_POIS_HEX`)
    — both engines do identical string comparisons; exp(-1) never runs
    at query time.  Eight draws share one md5 (disjoint slices of a
    cryptographic hash are independent), so the 16-resample scan pays
    2 hashes per row instead of 16.  Weighted sums are decimal-native (integer weight ×
    DECIMAL(18,8) value — the EWMA idiom), so each resample mean is one
    correctly-rounded division of an exact sum.

    Scale: ONE scan computes all 2B aggregate columns map-side
    (combinable); the unpivot + rank run on a 16-row frame.  B scales
    to hundreds before the aggregate row width matters; no fan-out,
    no explode, no per-resample pass."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")

    def w(b: int):
        tag = "bootA" if b < 8 else "bootB"
        u = F.substring(
            F.md5(F.concat(F.lit(f"{tag}:"), F.col("event_id").cast("string"))),
            1 + 4 * (b % 8), 4,
        )
        expr = F.lit(5)
        for k in reversed(range(len(_POIS_HEX))):
            expr = F.when(u < F.lit(_POIS_HEX[k]), F.lit(k)).otherwise(expr)
        return expr

    aggs = []
    for b in range(_BOOT_B):
        wb = w(b)
        aggs.append(F.sum(wb.cast("bigint")).alias(f"ne{b}"))
        aggs.append(
            F.sum(dec(F.col("value")) * wb.cast("decimal(10,0)"))
            .cast("string")
            .cast("double")
            .alias(f"ws{b}")
        )
    one = ev.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("resample"),
                        F.col(f"ne{b}").alias("n_eff"),
                        F.col(f"ws{b}").alias("wsum"),
                    )
                    for b in range(_BOOT_B)
                ]
            )
        ).alias("s")
    ).select("s.resample", "s.n_eff", "s.wsum")
    means = stacked.select(
        "resample",
        F.col("n_eff").cast("bigint").alias("n_eff"),
        (F.col("wsum") / F.col("n_eff").cast("double")).alias("mean_boot"),
    )
    w_rank = Window.orderBy("mean_boot", "resample")
    return means.select(
        "resample",
        "n_eff",
        "mean_boot",
        F.row_number().over(w_rank).cast("bigint").alias("rank_by_mean"),
    ).orderBy("resample")


@query(
    "ece_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT ('0x' || substr(md5('cal:' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT AS h,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), binned AS (
      SELECT (h * 10) // 16777216 AS bin, h, y FROM scored
    ), agg AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(h) AS BIGINT) AS sum_h,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM agg
    )
    SELECT bin, n,
           CAST(sum_h AS DOUBLE) / (n * 16777216) AS mean_confidence,
           CAST(n_pos AS DOUBLE) / n AS accuracy,
           ABS(CAST(n_pos AS DOUBLE) / n
               - CAST(sum_h AS DOUBLE) / (n * 16777216))
             * n / tot.total AS ece_term
    FROM agg, tot ORDER BY bin
    """,
    covers=["A-extended", "LLM-eval"],
)
def ece_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error (ECE) reliability table — the model
    monitoring readout beside conformal coverage: scores binned into
    deciles, each bin comparing mean predicted confidence against
    observed accuracy; Σ ece_term is the ECE.  The "model" is a
    deterministic 24-bit hash score (this harness has no model — the
    operator under test is the binned calibration aggregation, which
    is model-agnostic), with outcome = (event_type = 'purchase').

    Exactness: the score is h/2^24 — but per-bin mean confidence is
    computed as Σh / (n·2^24) on EXACT integer sums, one
    correctly-rounded division; bin ids are pure integer math
    ((h·10) div 2^24); accuracy is one integer ratio; the ece_term's
    |acc−conf|·n/N chain is deterministic IEEE on identical inputs.
    No per-row double ever enters an aggregate.

    Scale: one combinable scan → 10-row grid; everything after is
    constant-size.  The same shape holds for any bin count or model
    score column at 100 TB."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cal:"), F.col("event_id").cast("string"))),
            1, 6,
        ),
        16, 10,
    ).cast("bigint")
    scored = ev.select(
        h.alias("h"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    agg = (
        scored.withColumn("bin", F.expr("(h * 10) div 16777216"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("h").cast("bigint").alias("sum_h"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    conf = F.col("sum_h").cast("double") / (F.col("n") * F.lit(16777216))
    acc = F.col("n_pos").cast("double") / F.col("n")
    return (
        # N via a window over the 10-row grid — the scan runs once
        agg.withColumn("total", F.sum("n").over(w_all).cast("bigint"))
        .select(
            "bin",
            "n",
            conf.alias("mean_confidence"),
            acc.alias("accuracy"),
            (F.abs(acc - conf) * F.col("n") / F.col("total")).alias("ece_term"),
        )
        .orderBy("bin")
    )


# Isotonic regression (PAV) over the calibration grid.  Dials prefixed
# per CLAUDE.md; _ISO_B matches ece_calibration_bins's decile grid so
# the two reliability readouts line up bin-for-bin.
_ISO_B = 10


@query(
    "isotonic_calibration_pav",
    oracle=f"""
    WITH scored AS (
      SELECT ('0x' || substr(md5('cal:' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT AS h,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), agg AS (
      SELECT (h * {_ISO_B}) // 16777216 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM scored GROUP BY 1
    ), pre AS (
      SELECT bin, n, n_pos,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(n_pos) OVER (ORDER BY bin) AS cp
      FROM agg
    ), seg AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(k.cp - j.cp + j.n_pos AS DOUBLE)
               / (k.cn - j.cn + j.n) AS seg_rate
      FROM pre j JOIN pre k ON k.bin >= j.bin
    ), minned AS (
      SELECT p.bin AS i, s.j, MIN(s.seg_rate) AS min_rate
      FROM pre p JOIN seg s ON s.j <= p.bin AND s.k >= p.bin
      GROUP BY p.bin, s.j
    ), fit AS (
      SELECT i AS bin, MAX(min_rate) AS isotonic_rate
      FROM minned GROUP BY i
    )
    SELECT a.bin, a.n, a.n_pos,
           CAST(a.n_pos AS DOUBLE) / a.n AS raw_rate,
           f.isotonic_rate
    FROM agg a JOIN fit f ON f.bin = a.bin
    ORDER BY a.bin
    """,
    covers=["A-extended", "W-extended", "LLM-eval"],
)
def isotonic_calibration_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (pool-adjacent-violators) over the same
    hash-score/purchase-outcome grid as `ece_calibration_bins` — the
    fit every probability calibrator (Platt's nonparametric rival,
    sklearn's IsotonicRegression) ships: the best monotone
    NON-DECREASING rates under squared error.  PAV's iterative pooling
    has the closed minimax form fit_i = max_(j<=i) min_(k>=i)
    avg(y[j..k]), which this query evaluates RELATIONALLY over the
    collapsed {_ISO_B}-bin grid — no iteration, no driver loop.

    Exactness: every segment rate is ONE correctly-rounded division of
    exact BIGINT prefix sums (identical doubles cross-engine), and
    MIN/MAX over identical double sets are deterministic — no chained
    float arithmetic anywhere.

    Scale: one combinable scan collapses the corpus to the bin grid;
    the j x k segment enumeration and the minimax joins are
    O(bins^3) = 1000 rows on CONSTANT-size frames (broadcast,
    checkpointed once) — the same cost at any corpus size."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cal:"), F.col("event_id").cast("string"))),
            1, 6,
        ),
        16, 10,
    ).cast("bigint")
    grid = materialize(
        ev.select(
            h.alias("h"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
        .withColumn("bin", F.expr(f"(h * {_ISO_B}) div 16777216"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
        # constant-size (_ISO_B rows); its four consumers prune it to
        # different columns, so without the cut each re-scans events
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = grid.select(
        "bin", "n", "n_pos",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum("n_pos").over(w_cum).alias("cp"),
    )
    pj = pre.select(
        F.col("bin").alias("j"), F.col("n").alias("jn"),
        F.col("n_pos").alias("jp"), F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    pk = pre.select(
        F.col("bin").alias("k"), F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    seg = pj.join(F.broadcast(pk), F.col("k") >= F.col("j")).select(
        "j", "k",
        (
            (F.col("kcp") - F.col("jcp") + F.col("jp")).cast("double")
            / (F.col("kcn") - F.col("jcn") + F.col("jn"))
        ).alias("seg_rate"),
    )
    minned = (
        pre.select(F.col("bin").alias("i"))
        .join(
            F.broadcast(seg),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("seg_rate").alias("min_rate"))
    )
    fit = minned.groupBy("i").agg(F.max("min_rate").alias("isotonic_rate"))
    return (
        grid.join(F.broadcast(fit), grid.bin == fit.i)
        .select(
            "bin", "n", "n_pos",
            (F.col("n_pos").cast("double") / F.col("n")).alias("raw_rate"),
            "isotonic_rate",
        )
        .orderBy("bin")
    )


_DAILY_REVENUE_SQL = """
      SELECT CAST(ts AS DATE) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS total
      FROM events GROUP BY 1
"""


@query(
    "mann_kendall_trend",
    oracle=f"""
    WITH daily AS ({_DAILY_REVENUE_SQL}
    ), pairs AS (
      SELECT CASE WHEN b.total > a.total THEN 1
                  WHEN b.total < a.total THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.day < b.day
    ), s AS (
      SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS d
      FROM pairs
    ), ties AS (
      SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS corr
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY total)
      WHERE t > 1
    ), v AS (
      SELECT s.s_stat, s.d,
             CAST(s.d * (s.d - 1) * (2 * s.d + 5) - ties.corr AS DOUBLE)
               / 18 AS var_s
      FROM s, ties
    )
    SELECT d AS n_days, s_stat, var_s,
           CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                ELSE 0.0 END AS z_stat
    FROM v
    """,
    covers=["A-extended", "W-extended", "X-observability"],
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test on the daily-revenue
    series — the monotone-trend gate (is this metric drifting up or
    down, regardless of shape?) that complements the parametric OLS
    trend and the CUSUM changepoint: S = Σ sign(y_j − y_i) over all
    day pairs, tie-corrected variance, and the continuity-corrected
    z statistic.  Rank-based, so outliers and level shifts can't fake
    or hide a trend the way they can in a least-squares slope.

    Exactness: sign comparisons on identical doubles are exact IEEE;
    S, D, and the tie correction are integers; var_s is ONE division
    of exact integers; z is one sqrt + one division (both correctly
    rounded).  No libm beyond sqrt.

    Scale: the corpus collapses to a calendar-day grid FIRST (one
    combinable scan); the O(D²) pair join runs on that grid — D is
    days-of-history, bounded by time, not by data volume (10× the
    rows is the same ~30-row grid).  The broadcast side is the tiny
    grid, never a fact table."""
    ev = load(spark, sf_dir, "events")
    daily = materialize(
        ev.groupBy(F.to_date("ts").alias("day")).agg(dsum(F.col("value"), "total"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.total") > F.col("a.total"), 1)
        .when(F.col("b.total") < F.col("a.total"), -1)
        .otherwise(0)
    )
    s = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .agg(F.sum(sgn).cast("bigint").alias("s_stat"))
    )
    d_cnt = daily.agg(F.count("*").cast("bigint").alias("d"))
    ties = (
        daily.groupBy("total")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ).cast("bigint"),
                F.lit(0),
            ).alias("corr")
        )
    )
    v = (
        s.crossJoin(F.broadcast(d_cnt))
        .crossJoin(F.broadcast(ties))
        .select(
            "s_stat",
            "d",
            (
                (
                    F.col("d") * (F.col("d") - 1) * (2 * F.col("d") + 5)
                    - F.col("corr")
                ).cast("double")
                / 18
            ).alias("var_s"),
        )
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("d").alias("n_days"), "s_stat", "var_s", z.alias("z_stat")
    )


@query(
    "theil_sen_slope",
    oracle=f"""
    WITH daily AS ({_DAILY_REVENUE_SQL}
    ), xy AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS x, total AS y
      FROM daily
    ), slopes AS (
      SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope, a.x AS x1,
             b.x AS x2
      FROM xy a JOIN xy b ON a.x < b.x
    ), ranked AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope, x1, x2) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xy) AS n_days,
           CAST(MAX(np) AS BIGINT) AS n_pairs,
           (MIN(slope) + MAX(slope)) / CAST(2 AS DOUBLE) AS slope_median
    FROM ranked
    WHERE rn = CAST(FLOOR((np + 1) / CAST(2 AS DOUBLE)) AS BIGINT)
       OR rn = CAST(FLOOR((np + 2) / CAST(2 AS DOUBLE)) AS BIGINT)
    """,
    covers=["A-extended", "W-extended"],
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of the daily-revenue series: the
    MEDIAN of all pairwise slopes — up to ~29% outlier-contaminated
    days cannot move it (an OLS slope is moved by one bad day), the
    robust companion to `ols_spend_trend` and the magnitude estimate
    the Mann–Kendall test doesn't give.

    Exactness: each pairwise slope is one exact IEEE subtraction over
    one correctly-rounded division (integer day gap); the median is
    selected by ORDER (value ties are harmless to a value median;
    row_number gets pair tiebreaks anyway) and an even count takes
    (lo+hi)/2 — one rounded addition, exact halving: the
    weighted-median idiom.

    Scale: same law as `mann_kendall_trend` — collapse to the
    day grid first, O(D²) only on the bounded calendar grid, pair
    generation against the broadcast grid copy."""
    ev = load(spark, sf_dir, "events")
    daily = materialize(
        ev.groupBy(F.to_date("ts").alias("day")).agg(dsum(F.col("value"), "total"))
    )
    xy = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("x"),
        F.col("total").alias("y"),
    )
    a, b = xy.alias("a"), xy.alias("b")
    slopes = a.join(F.broadcast(b), F.col("a.x") < F.col("b.x")).select(
        (
            (F.col("b.y") - F.col("a.y"))
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    )
    w_all = Window.orderBy("slope", "x1", "x2")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w_all).alias("rn"),
        F.count("*").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("np"),
    )
    n_days = xy.agg(F.count("*").cast("bigint").alias("n_days"))
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
    ).agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        ((F.min("slope") + F.max("slope")) / F.lit(2.0)).alias("slope_median"),
    )
    return n_days.crossJoin(F.broadcast(mid)).select(
        "n_days", "n_pairs", "slope_median"
    )


@query(
    "epsilon_greedy_allocation",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
    ), assigned AS (
      SELECT e.user_id,
             ('0x' || substr(md5('mab:' || CAST(e.user_id AS VARCHAR)), 1, 8))
               ::BIGINT % 4 AS arm,
             MAX(CASE WHEN e.event_type = 'purchase'
                       AND e.ts < f.t0 + INTERVAL 7 DAY
                      THEN 1 ELSE 0 END) AS converted
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      GROUP BY e.user_id
    ), arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conv_rate
      FROM assigned GROUP BY arm
    ), best AS (
      SELECT arm AS best_arm FROM arms
      ORDER BY conv_rate DESC, arm LIMIT 1
    )
    SELECT a.arm, a.n_users, a.n_converted, a.conv_rate,
           a.arm = b.best_arm AS is_best,
           CAST(CASE WHEN a.arm = b.best_arm THEN 0.85 ELSE 0.05 END
                AS DOUBLE) AS next_allocation
    FROM arms a, best b ORDER BY a.arm
    """,
    covers=["A-extended", "LLM-eval"],
)
def epsilon_greedy_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-greedy bandit REALLOCATION — the decision rung that
    closes the experimentation ladder (SRM validates the assignment →
    CUPED/DiD estimate the effect → this operator allocates the next
    traffic batch): users hash into 4 arms, each arm's user-level
    7-DAY conversion rate (purchase within 7 days of the user's first
    event — a bounded-window metric, so the readout discriminates
    instead of saturating at "eventually everyone buys") is measured, and the next-batch split gives the
    empirical best arm 1−ε+ε/K = 0.85 and every other arm ε/K = 0.05
    (ε=0.2, K=4 — exact decimal literals, no RNG at query time: the
    exploration randomness is the same deterministic user-hash that
    assigned the arms).

    Exactness: assignment is integer md5 arithmetic; conversion rates
    are one integer ratio; the argmax is totally ordered (rate DESC,
    arm ASC); allocations are literals.

    Scale: one user-keyed shuffle (the first-event window and the
    conversion MAX share it) → a 4-row arm grid; the best-arm pick and allocation math are constant-size.
    The same shape serves any K at 100 TB."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mab:"), F.col("user_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(4),
    )
    w_u = Window.partitionBy("user_id")
    assigned = (
        ev.withColumn("t0", F.min("ts").over(w_u))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") < F.col("t0") + F.expr("INTERVAL 7 DAYS")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(arm.alias("arm"), "converted")
    )
    arms = materialize(assigned.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count("*")).alias("conv_rate"),
    ))  # 4 rows; argmax branch must not rescan
    best = arms.orderBy(F.desc("conv_rate"), "arm").limit(1).select(
        F.col("arm").alias("best_arm")
    )
    return (
        arms.crossJoin(F.broadcast(best))
        .select(
            "arm",
            "n_users",
            "n_converted",
            "conv_rate",
            (F.col("arm") == F.col("best_arm")).alias("is_best"),
            F.when(F.col("arm") == F.col("best_arm"), F.lit(0.85))
            .otherwise(F.lit(0.05))
            .alias("next_allocation"),
        )
        .orderBy("arm")
    )


_Z_GRID_BITS = 16  # per-dimension grid resolution (gx, gy in [0, 65535])
_Z_FILES = 32  # layout files = fixed-width z / key ranges (power of 2)
# Derived (ADVICE r6): every use below reads these, so changing either
# dial cannot desync docstring, oracle, and plan.
_Z_GRID_SCALE = 1 << _Z_GRID_BITS
_Z_FILE_BITS = _Z_FILES.bit_length() - 1
_Z_SHIFT_Z = 1 << (2 * _Z_GRID_BITS - _Z_FILE_BITS)  # z-range width per file
_Z_SHIFT_LIN = 1 << (_Z_GRID_BITS - _Z_FILE_BITS)  # gx-range width per file


def _morton(gx: str, gy: str, div: str) -> str:
    """Bit-interleave SQL for two 16-bit grid keys: z = Σ bit_i(gx)·4^i
    + bit_i(gy)·2·4^i, spelled with integer division/modulo only so the
    same arithmetic runs in Spark (`DIV`) and DuckDB (`//`)."""
    terms = []
    for i in range(_Z_GRID_BITS):
        terms.append(f"((({gx}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({gy}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_Z_PREDS = [
    (1, 0, 16383, 0, 65535),  # x-only quarter slice
    (2, 0, 65535, 0, 16383),  # y-only quarter slice
    (3, 0, 16383, 0, 16383),  # quarter x quarter box
    (4, 16384, 32767, 32768, 49151),  # interior box
    (5, 0, 4095, 0, 4095),  # small corner box
]

_Z_PRED_VALUES = ", ".join(f"({p}, {a}, {b}, {c}, {d})" for p, a, b, c, d in _Z_PREDS)


@query(
    "zorder_data_skipping_audit",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(o_custkey) AS mx,
             MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS my
      FROM orders
    ), grid AS (
      SELECT (o_custkey * {_Z_GRID_SCALE}) // (mx + 1) AS gx,
             (CAST(FLOOR(o_totalprice) AS BIGINT) * {_Z_GRID_SCALE}) // (my + 1) AS gy
      FROM orders, mx
    ), files AS (
      SELECT gx, gy,
             ({_morton('gx', 'gy', '//')}) // {_Z_SHIFT_Z} AS file_z,
             gx // {_Z_SHIFT_LIN} AS file_lin
      FROM grid
    ), stacked AS (
      SELECT 'zorder' AS layout, file_z AS file_id, gx, gy FROM files
      UNION ALL
      SELECT 'linear' AS layout, file_lin AS file_id, gx, gy FROM files
    ), stats AS (
      SELECT layout, file_id,
             MIN(gx) AS xmin, MAX(gx) AS xmax,
             MIN(gy) AS ymin, MAX(gy) AS ymax,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM stacked GROUP BY layout, file_id
    ), hit AS (
      SELECT s.layout, s.file_id, s.n_rows, p.pred_id
      FROM stats s, (VALUES {_Z_PRED_VALUES}) p(pred_id, xlo, xhi, ylo, yhi)
      WHERE NOT (p.xhi < s.xmin OR p.xlo > s.xmax
                 OR p.yhi < s.ymin OR p.ylo > s.ymax)
    )
    SELECT CAST(pred_id AS INT) AS pred_id, layout,
           CAST(COUNT(*) AS BIGINT) AS files_scanned,
           CAST(SUM(n_rows) AS BIGINT) AS rows_scanned
    FROM hit GROUP BY pred_id, layout ORDER BY pred_id, layout
    """,
    covers=["SC-layout", "A-extended"],
)
def zorder_data_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout vs single-key linear layout,
    scored by min/max data skipping — the lakehouse OPTIMIZE ZORDER BY
    decision made measurable: grid-scale two order dimensions
    (customer key, total price) to 16 bits, interleave the bits, cut
    the keyspace into {_Z_FILES} fixed-width files per layout, and for
    five representative predicate boxes count the files (and rows)
    whose [min,max] footer stats survive pruning.  Z-order scans ~√F
    files for a 2-D box where the linear layout scans all F (its
    second dimension spans every file).

    Exactness: grid scaling, bit interleave, and file cuts are pure
    int64 division/modulo; footer stats and scan counts are integer
    aggregates — no float anywhere.

    Scale: file assignment is per-row arithmetic on a fixed-width
    z-range (the deterministic stand-in for `repartitionByRange(z)` —
    no sampling, no sort, no shuffle); footer stats are ONE map-side
    combinable aggregate to 2·{_Z_FILES} rows; predicate evaluation
    touches only that constant-size stats table against a broadcast
    literal predicate set.  The single one-row max-aggregate feeding
    the grid scale is catalog metadata at 100 TB."""
    o = load(spark, sf_dir, "orders")
    mx = o.agg(
        F.max("o_custkey").alias("mx"),
        F.max(F.floor("o_totalprice").cast("bigint")).alias("my"),
    )
    grid = (
        o.select(
            F.col("o_custkey").alias("x"),
            F.floor("o_totalprice").cast("bigint").alias("y"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"(x * {_Z_GRID_SCALE}) DIV (mx + 1)").alias("gx"),
            F.expr(f"(y * {_Z_GRID_SCALE}) DIV (my + 1)").alias("gy"),
        )
    )
    files = grid.select(
        "gx",
        "gy",
        F.expr(
            f"({_morton('gx', 'gy', 'DIV')}) DIV {_Z_SHIFT_Z}"
        ).alias("file_z"),
        F.expr(f"gx DIV {_Z_SHIFT_LIN}").alias("file_lin"),
    )
    stacked = files.selectExpr(
        "stack(2, 'zorder', file_z, 'linear', file_lin) AS (layout, file_id)",
        "gx",
        "gy",
    )
    stats = stacked.groupBy("layout", "file_id").agg(
        F.min("gx").alias("xmin"),
        F.max("gx").alias("xmax"),
        F.min("gy").alias("ymin"),
        F.max("gy").alias("ymax"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        _Z_PREDS, "pred_id int, xlo bigint, xhi bigint, ylo bigint, yhi bigint"
    )
    hit = stats.crossJoin(F.broadcast(preds)).filter(
        ~(
            (F.col("xhi") < F.col("xmin"))
            | (F.col("xlo") > F.col("xmax"))
            | (F.col("yhi") < F.col("ymin"))
            | (F.col("ylo") > F.col("ymax"))
        )
    )
    return (
        hit.groupBy("pred_id", "layout")
        .agg(
            F.count("*").cast("bigint").alias("files_scanned"),
            F.sum("n_rows").cast("bigint").alias("rows_scanned"),
        )
        .orderBy("pred_id", "layout")
    )


# ANALYZE-style column statistics: equi-depth histogram buckets plus
# NDV / null-count / most-common-value per column — the footer/catalog
# stats a cost-based optimizer (and this repo's data-skipping audits)
# consume.  Dials prefixed per CLAUDE.md.
_COLSTATS_B = 8  # equi-depth buckets per column
_COLSTATS_COLS = ("l_discount", "l_extendedprice", "l_quantity")

_COLSTATS_STACK_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS col_name, {c} AS v FROM lineitem" for c in _COLSTATS_COLS
)


@query(
    "column_stats_histogram",
    oracle=f"""
    WITH stacked AS (
      {_COLSTATS_STACK_SQL}
    ), nulls AS (
      SELECT col_name,
             CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
      FROM stacked GROUP BY col_name
    ), grid AS (
      SELECT col_name, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM stacked WHERE v IS NOT NULL GROUP BY col_name, v
    ), ranked AS (
      SELECT col_name, v, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY col_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             SUM(cnt) OVER (PARTITION BY col_name) AS n,
             COUNT(*) OVER (PARTITION BY col_name) AS ndv,
             ROW_NUMBER() OVER (PARTITION BY col_name
                                ORDER BY cnt DESC, v) AS rn
      FROM grid
    ), buckets AS (
      SELECT col_name,
             CAST((cum_before * {_COLSTATS_B}) // n AS INT) AS bucket_id,
             MIN(v) AS lo, MAX(v) AS hi, CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM ranked GROUP BY col_name, (cum_before * {_COLSTATS_B}) // n
    ), colstats AS (
      SELECT r.col_name, CAST(r.ndv AS BIGINT) AS ndv, u.n_nulls,
             r.v AS mcv_value, r.cnt AS mcv_count
      FROM ranked r JOIN nulls u USING (col_name) WHERE r.rn = 1
    )
    SELECT b.col_name, b.bucket_id, b.lo, b.hi, b.n_rows,
           c.ndv, c.n_nulls, c.mcv_value, c.mcv_count
    FROM buckets b JOIN colstats c USING (col_name)
    ORDER BY b.col_name, b.bucket_id
    """,
    covers=["A-extended", "SC-layout", "W-extended"],
)
def column_stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics for the fact table's
    numeric columns: {_COLSTATS_B}-bucket EQUI-DEPTH histogram
    (bucket = floor(cum_rank_before * B / n) over the sorted distinct-
    value grid, so a heavily-tied value lands wholly in one bucket),
    plus NDV, null count, and the most-common value with its
    frequency — the catalog stats a cost-based optimizer feeds into
    selectivity estimates, computed exactly.

    Exactness: everything is integer counting over exact input values
    (lo/hi/mcv are untouched doubles; bucket ids are pure integer
    division) — nothing to round, bit-identical by construction.

    Scale: the expensive collapse is ONE map-side-combinable groupBy
    to the per-column distinct-value grid; the rank/bucket windows
    then run per column over grid rows only (ndv per column, not row
    count — l_quantity's grid is ~50 rows at any corpus size).  For a
    column whose NDV itself is data-sized, production ANALYZE runs
    this same plan over a deterministic hash-sample (the repo's
    `priority_weighted_sample` discipline) — the shape is unchanged."""
    li = load(spark, sf_dir, "lineitem")
    stacked = li.selectExpr(
        f"stack({len(_COLSTATS_COLS)}, "
        + ", ".join(f"'{c}', {c}" for c in _COLSTATS_COLS)
        + ") AS (col_name, v)"
    )
    nulls = stacked.groupBy("col_name").agg(
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls")
    )
    grid = (
        stacked.filter(F.col("v").isNotNull())
        .groupBy("col_name", "v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w_col = Window.partitionBy("col_name")
    w_ord = w_col.orderBy("v")
    ranked = grid.select(
        "col_name",
        "v",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("cum_before"),
        F.sum("cnt").over(w_col).alias("n"),
        F.count("*").over(w_col).alias("ndv"),
        F.row_number()
        .over(w_col.orderBy(F.desc("cnt"), "v"))
        .alias("rn"),
    )
    buckets = (
        ranked.withColumn(
            "bucket_id",
            F.expr(f"(cum_before * {_COLSTATS_B}) DIV n").cast("int"),
        )
        .groupBy("col_name", "bucket_id")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
        )
    )
    colstats = (
        ranked.filter(F.col("rn") == 1)
        .join(nulls, "col_name")
        .select(
            "col_name",
            F.col("ndv").cast("bigint").alias("ndv"),
            "n_nulls",
            F.col("v").alias("mcv_value"),
            F.col("cnt").alias("mcv_count"),
        )
    )
    return buckets.join(colstats, "col_name").select(
        "col_name", "bucket_id", "lo", "hi", "n_rows",
        "ndv", "n_nulls", "mcv_value", "mcv_count",
    ).orderBy("col_name", "bucket_id")


# Decile lift/gains table (direct-marketing model evaluation): rank
# the population by a predicted score, cut into B equal-depth tiers
# over the distinct-score grid, and compare each tier's realized
# conversion rate to the base rate.  Dials prefixed per CLAUDE.md.
_GAINS_B = 10  # tiers (deciles)
_GAINS_HIST_END = "1999-01-01 00:00:00"  # score window: orders before
_GAINS_FUT_START = "2000-01-01 00:00:00"  # outcome window: orders at/after


@query(
    "decile_lift_table",
    oracle=f"""
    WITH hist AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_GAINS_HIST_END}'
      GROUP BY o_custkey
    ), fut AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '{_GAINS_FUT_START}'
    ), cust AS (
      SELECT c.c_custkey,
             COALESCE(h.spend, CAST(0 AS DECIMAL(18,8))) AS spend,
             CASE WHEN f.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS conv
      FROM customer c
      LEFT JOIN hist h ON h.o_custkey = c.c_custkey
      LEFT JOIN fut f ON f.o_custkey = c.c_custkey
    ), grid AS (
      SELECT spend, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM cust GROUP BY spend
    ), ranked AS (
      SELECT spend, n_c, n_conv,
             COALESCE(SUM(n_c) OVER (ORDER BY spend DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             SUM(n_c) OVER () AS n,
             SUM(n_conv) OVER () AS tot_conv
      FROM grid
    ), tiers AS (
      SELECT CAST((cum_before * {_GAINS_B}) // n AS INT) AS decile,
             n_c, n_conv, n, tot_conv
      FROM ranked
    )
    SELECT decile,
           CAST(SUM(n_c) AS BIGINT) AS n_customers,
           CAST(SUM(n_conv) AS BIGINT) AS n_converters,
           CAST(SUM(n_conv) AS DOUBLE) / SUM(n_c) AS conv_rate,
           CAST(MAX(tot_conv) AS DOUBLE) / MAX(n) AS overall_rate,
           (CAST(SUM(n_conv) AS DOUBLE) / SUM(n_c))
             / NULLIF(CAST(MAX(tot_conv) AS DOUBLE) / MAX(n), 0) AS lift
    FROM tiers GROUP BY decile ORDER BY decile
    """,
    covers=["A-extended", "W-extended", "LLM-eval"],
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the direct-marketing / churn-model
    acceptance report: score every customer by historical spend
    (orders before {_GAINS_HIST_END[:10]}), cut the population into
    {_GAINS_B} equal-depth tiers (top spenders = decile 0), and
    compare each tier's future-purchase rate (an order at/after
    {_GAINS_FUT_START[:10]}) against the overall base rate.  A useful
    score shows lift > 1 in the top deciles; this is the evaluation a
    targeting model ships with.

    Exactness: scores are exact DECIMAL sums (associative — grouping
    and ordering keys never touch floats); tier cuts are pure integer
    division over the distinct-score grid's cumulative counts (a
    whole tied score lands in one tier, same as
    `column_stats_histogram`); rates and lift are fixed-order
    correctly-rounded divisions, NULLIF-guarded.

    Scale: scoring is ONE union + one map-side-combinable aggregate on
    custkey — the customer roster, historical orders, and future
    orders each contribute (custkey, spend, conv) rows and a single
    hash shuffle folds them (SUM is exact decimal; MAX(conv) replaces
    the DISTINCT).  Joins were removed in round 8: the prior
    cust⋈hist⋈fut plan let AQE pick the join strategy from runtime
    shuffle sizes, which flipped the physical plan between identical
    runs (the one unstable hash of 57 in the r7 audit, VERDICT r7
    task 3) — the union-aggregate form has no strategy choice to make
    and one fewer shuffle.  The distinct-spend grid is ~customer-sized
    (decimal spends are near-unique — round-10 lint catch), so the
    DESC cumulative count is the range-partitioned two-level prefix
    scan (`prefix.range_prefix_sum`, serial step O(P) only) and the
    grand totals come from a plain aggregate off the shared grid
    exchange; the final rollup is {_GAINS_B} rows.  (Oracle keeps the textbook LEFT JOIN spelling; orders
    referential integrity makes the two equivalent.)"""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    zero_spend = F.lit(0).cast("decimal(18,8)")
    contrib = (
        cust.select(
            "c_custkey", zero_spend.alias("spend"), F.lit(0).alias("conv")
        )
        .unionAll(
            orders.filter(
                F.col("o_orderdate") < F.to_timestamp(F.lit(_GAINS_HIST_END))
            ).select(
                F.col("o_custkey").alias("c_custkey"),
                dec(F.col("o_totalprice")).alias("spend"),
                F.lit(0).alias("conv"),
            )
        )
        .unionAll(
            orders.filter(
                F.col("o_orderdate")
                >= F.to_timestamp(F.lit(_GAINS_FUT_START))
            ).select(
                F.col("o_custkey").alias("c_custkey"),
                zero_spend.alias("spend"),
                F.lit(1).alias("conv"),
            )
        )
    )
    scored = contrib.groupBy("c_custkey").agg(
        F.sum("spend").alias("spend"), F.max("conv").alias("conv")
    )
    grid = scored.groupBy("spend").agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    # the distinct-spend grid is ~customer-sized (decimal spends are
    # near-unique; 10× growth sf0.001→sf0.01 — round-10 lint catch):
    # the DESC cumulative count rides the two-level prefix scan, and
    # the two grand totals aggregate the helper's checkpointed frame
    # (not a second evaluation of the scoring pipeline)
    pre = range_prefix_sum(grid, [F.desc("spend")], F.col("n_c"), "cum_incl")
    tot = pre.agg(
        F.sum("n_c").alias("n"), F.sum("n_conv").alias("tot_conv")
    )
    ranked = pre.crossJoin(F.broadcast(tot)).select(
        "n_c",
        "n_conv",
        (F.col("cum_incl") - F.col("n_c")).alias("cum_before"),
        "n",
        "tot_conv",
    )
    tiers = ranked.withColumn(
        "decile", F.expr(f"(cum_before * {_GAINS_B}) DIV n").cast("int")
    )
    conv_rate = F.sum("n_conv").cast("double") / F.sum("n_c")
    overall = F.max("tot_conv").cast("double") / F.max("n")
    return (
        tiers.groupBy("decile")
        .agg(
            F.sum("n_c").cast("bigint").alias("n_customers"),
            F.sum("n_conv").cast("bigint").alias("n_converters"),
            conv_rate.alias("conv_rate"),
            overall.alias("overall_rate"),
            (conv_rate / F.nullif(overall, F.lit(0.0))).alias("lift"),
        )
        .orderBy("decile")
    )


# Incremental JOIN-view maintenance (the delta algebra
# Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) — the sibling of
# `incremental_agg_maintenance` for views that join two growing fact
# tables.  Dials prefixed per CLAUDE.md.
_IVMJ_SPLIT = "1997-01-01 00:00:00"  # epoch boundary on both tables


@query(
    "incremental_join_maintenance",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{_IVMJ_SPLIT}'
                          AND l_shipdate < TIMESTAMP '{_IVMJ_SPLIT}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_from_base,
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_IVMJ_SPLIT}'
                          OR l_shipdate >= TIMESTAMP '{_IVMJ_SPLIT}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta,
           {sql_dsum(SQL_REVENUE, 'revenue')}
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    covers=["A-extended", "J-extended", "SC-maintenance"],
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN-view incremental maintenance: the priority-
    level revenue view over orders ⋈ lineitem kept current while BOTH
    sides grow, via the classic delta algebra — with A = A₀∪ΔA and
    B = B₀∪ΔB (split at {_IVMJ_SPLIT[:10]} on each table's own time
    column), the new join rows are EXACTLY
    ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, so the refresh joins only terms with at
    least one delta side and merges their partial aggregates into the
    stored view.  The QUERY runs that real incremental path — four
    join terms, partial-aggregated, merged — while the ORACLE is the
    single-pass full recompute; they agree bit-for-bit because the
    decimal partial sums are exact and associative (the same contract
    that makes `incremental_agg_maintenance` deployable).  The output
    also accounts n_from_base vs n_from_delta — the rows a refresh
    actually touched.

    Scale: at 100 TB the three delta terms scan ΔA and ΔB (one day /
    one batch of partitions, via partition pruning on the split
    column) plus index-pruned slices of the opposite base side —
    ΔA⋈B₀ broadcasts ΔA's join keys when the batch is small; the
    A₀⋈B₀ term is NEVER recomputed (its partials are the stored
    view, represented here by one term so the audit covers the merge).
    History is joined exactly once over the view's lifetime."""
    cut = F.to_timestamp(F.lit(_IVMJ_SPLIT))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    a0 = orders.filter(F.col("o_orderdate") < cut)
    da = orders.filter(F.col("o_orderdate") >= cut)
    b0 = li.filter(F.col("l_shipdate") < cut)
    db = li.filter(F.col("l_shipdate") >= cut)

    def partial(a: DataFrame, b: DataFrame, is_base: bool) -> DataFrame:
        return (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.lit(1 if is_base else 0).cast("bigint").alias("tag_base"),
                F.sum(dec(revenue())).alias("rev_partial"),
            )
        )

    merged = (
        partial(a0, b0, True)
        .unionByName(partial(da, b0, False))
        .unionByName(partial(a0, db, False))
        .unionByName(partial(da, db, False))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum(F.col("n_rows") * F.col("tag_base"))
            .cast("bigint")
            .alias("n_from_base"),
            F.sum(F.col("n_rows") * (1 - F.col("tag_base")))
            .cast("bigint")
            .alias("n_from_delta"),
            F.sum("rev_partial").alias("rev_merged"),
        )
    )

    return merged.select(
        "o_orderpriority",
        "n_rows",
        "n_from_base",
        "n_from_delta",
        _dec_to_double(F.col("rev_merged")).alias("revenue"),
    ).orderBy("o_orderpriority")


@query(
    "bucketed_colocated_join_audit",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum(SQL_REVENUE, 'revenue')},
           CAST(0 AS BIGINT) AS n_exchanges_under_join
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    covers=["M6-layout", "J-extended", "A-extended"],
)
def bucketed_colocated_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof that bucketing removes the fact-fact join
    shuffle: writes orders and lineitem as bucketed EXTERNAL tables
    (`layout.write_bucketed_join_tables`, `layout.N_BUCKETS` buckets
    on the join key), joins the bucketed tables, and publishes BOTH the join's
    data result (priority-level revenue, decimal-exact) AND the
    measured Exchange count under the join — which the oracle pins to
    ZERO.  A planner or layout regression that reintroduces a shuffle
    flips the audit column and the driver row goes red; the data
    columns prove the co-located plan computes the same answer as the
    oracle's plain join.

    The Exchange count is read from the STATIC plan (AQE and
    auto-broadcast disabled for the inspection only, then restored) so
    the zero is a property of the bucketed layout, not of a runtime
    conversion.  At 100 TB this is the difference between re-shuffling
    the lake per query and reading co-located buckets; the bucket
    count is the write-time parallelism dial (`layout.N_BUCKETS`)."""
    import os

    from edinet_etl_spark import layout

    out = scratch_dir(spark, sf_dir, "bucketed_audit")
    db = os.path.basename(out)
    layout.write_bucketed_join_tables(spark, sf_dir, out, db=db)
    li = spark.table(f"{db}.lineitem_bucketed").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = spark.table(f"{db}.orders_bucketed").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = li.join(od, li.l_orderkey == od.o_orderkey)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    n_exchanges = plan.count("Exchange")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            dsum(revenue(), "revenue"),
        )
        .withColumn(
            "n_exchanges_under_join", F.lit(n_exchanges).cast("bigint")
        )
        .orderBy("o_orderpriority")
    )


@query(
    "quantity_moment_stats",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,8)))
                  AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,8)))
                  AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                  AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                  * l_quantity AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
                  AS s4
      FROM lineitem GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n, s1 / n AS mean,
             s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
      FROM sums
    ), c AS (
      SELECT l_returnflag, n, mean,
             r2 - mean * mean AS m2,
             r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
             r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
                - 3.0 * mean * mean * mean * mean AS m4
      FROM m
    )
    SELECT l_returnflag, n, mean, m2 AS variance,
           m3 / (m2 * sqrt(m2)) AS skewness,
           m4 / (m2 * m2) - 3.0 AS excess_kurtosis
    FROM c ORDER BY l_returnflag
    """,
    covers=["A-extended"],
)
def quantity_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile per return flag: population mean /
    variance / skewness / excess kurtosis of order quantities — the
    third- and fourth-moment extension of the repo's decimal-moments
    discipline (`price_quantity_corr` stops at second moments), i.e.
    the profiling numbers a data-quality monitor watches for shape
    drift that mean/variance alone cannot see.

    Exactness: l_quantity is integer-valued (1..50), so q², q³, q⁴
    are EXACT integers ≤ 6.25e6 in double and the four power sums ride
    DECIMAL(18,8) with nothing to round at all; every downstream
    moment is then a fixed expression tree of correctly-rounded double
    ops (divisions, products, one sqrt — no libm), written with
    IDENTICAL literal order and association on both sides, so the
    chained-IEEE results are bit-equal by construction.

    Scale: ONE map-side-combinable aggregate carrying four decimal
    sums — the same single-pass shape as the covariance matrix; no
    second pass, no join, one shuffle of 3 x 5 partials."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        _dec_to_double(F.sum(dec(q))).alias("s1"),
        _dec_to_double(F.sum(dec(q * q))).alias("s2"),
        _dec_to_double(F.sum(dec(q * q * q))).alias("s3"),
        _dec_to_double(F.sum(dec(q * q * q * q))).alias("s4"),
    )
    n = F.col("n")
    m = sums.select(
        "l_returnflag",
        "n",
        (F.col("s1") / n).alias("mean"),
        (F.col("s2") / n).alias("r2"),
        (F.col("s3") / n).alias("r3"),
        (F.col("s4") / n).alias("r4"),
    )
    mean, r2, r3, r4 = (F.col(x) for x in ("mean", "r2", "r3", "r4"))
    c = m.select(
        "l_returnflag",
        "n",
        "mean",
        (r2 - mean * mean).alias("m2"),
        (r3 - F.lit(3.0) * mean * r2 + F.lit(2.0) * mean * mean * mean).alias(
            "m3"
        ),
        (
            r4
            - F.lit(4.0) * mean * r3
            + F.lit(6.0) * mean * mean * r2
            - F.lit(3.0) * mean * mean * mean * mean
        ).alias("m4"),
    )
    m2, m3, m4 = (F.col(x) for x in ("m2", "m3", "m4"))
    return c.select(
        "l_returnflag",
        "n",
        "mean",
        m2.alias("variance"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - F.lit(3.0)).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")
