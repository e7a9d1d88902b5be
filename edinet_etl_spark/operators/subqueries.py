"""Subquery / decorrelation surface: the TPC-H shapes the rest of the
engine doesn't exercise — correlated scalar subqueries, HAVING against a
subquery, EXISTS + NOT EXISTS with inequality correlation, scalar
fractions-of-total, and argmin-by-correlated-MIN.

The reference has exactly one subquery-like construct — the hash-set
membership guard (`/root/reference/src/extract.py:150-159`) — but a
complete engine must decorrelate all of these; Spark's optimizer
rewrites each into the join form we also state explicitly here
(pre-aggregate + equi-join), which is the scalable plan: the correlated
side becomes one shuffled aggregation on the correlation key, never a
per-row re-scan.

Scale notes (100 TB):
- Correlated aggregates (per-part AVG/MIN) are computed ONCE as a
  keyed aggregation and joined back on the key — co-partitioned with
  the probe side, no nested-loop re-execution.
- Scalar (uncorrelated) subqueries reduce to a 1-row DataFrame joined
  via broadcast — no shuffle of the big side.
- All float aggregates go through `numeric.dsum` (exact decimal) so
  thresholds and shares are bit-identical under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import dec, dsum, sql_dsum
from edinet_etl_spark.exprs import SQL_REVENUE, revenue
from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load



_revenue = revenue  # shared definition (edinet_etl_spark/exprs.py)


def _exact_sum_double(c: F.Column) -> F.Column:
    """Exact decimal sum surfaced as double (unaliased `numeric.dsum`)."""
    return F.sum(dec(c)).cast("string").cast("double")


# DuckDB-side mirror of the exact sum, as an expression (no alias).
def _sql_exact_sum(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)"


@query(
    "small_quantity_revenue",
    oracle=f"""
    SELECT {_sql_exact_sum('l_extendedprice')} / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
        SELECT 0.5 * ({_sql_exact_sum('l2.l_quantity')} / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    covers=["SQ-correlated-scalar", "J1", "A-extended"],
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AVG subquery, decorrelated to a
    per-part aggregate joined back on l_partkey (one shuffle, re-used by
    probe-side co-partitioning — never a per-row re-scan).  The per-part
    average is exact (decimal sum / count) so the `<` threshold is
    bit-identical in both engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    # Correlation-key filter pushdown: the subquery's AVG is only ever
    # consulted for partkeys that survive the brand filter, so restrict
    # lineitem to those parts FIRST (broadcast join), then aggregate.
    # The per-part average over the restricted set is identical (the
    # join keeps every lineitem of a qualifying part), but the keyed
    # aggregate shrinks from all parts to the brand's ~2% — and the
    # avg-side join input arrives already broadcast-joined, so the only
    # shuffle left is the small keyed aggregate.  (1.5s → ~0.4s at
    # sf0.1.)
    # (no forced broadcast: the brand slice still grows with SF — AQE
    # broadcasts it while it fits and shuffle-joins beyond that)
    li_brand = li.join(part, li.l_partkey == part.p_partkey)
    avg_qty = li_brand.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (_exact_sum_double(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty")
    )
    return (
        # no broadcast hint: avg_qty is one row per brand-part (could be
        # millions at lake scale) — AQE converts to broadcast when the
        # runtime size allows
        li_brand.join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (_exact_sum_double(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "large_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 'total_qty')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,8))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    covers=["SQ-having-in", "J1", "A-extended", "L1"],
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN against a HAVING subquery ≡ left-semi join on
    the pre-aggregated key set.  Quantities sum in exact decimal so the
    >300 cut is partitioning-independent."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec(F.col("l_quantity"))).alias("qsum"))
        .filter(F.col("qsum") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(big, li.l_orderkey == big.big_orderkey, "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    covers=["SQ-derived-table", "J-extended", "A-extended"],
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left OUTER join with an extra ON-clause filter
    (filter belongs to the join condition, NOT the WHERE — moving it
    would silently drop the zero-order customers), then a distribution
    over the per-customer counts.  Two shuffles total: custkey, c_count."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT 100.0 * {_sql_exact_sum(f"CASE WHEN p_type = 'PROMO' THEN {SQL_REVENUE} ELSE 0 END")}
                 / {_sql_exact_sum(SQL_REVENUE)} AS promo_share_pct,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    covers=["SQ-conditional-share", "J1", "A-extended"],
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate share.  Numerator and
    denominator are both exact decimal sums; the two float ops that
    remain (×100, ÷) are single correctly-rounded operations on
    identical operands, hence portable."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        (
            F.lit(100.0)
            * _exact_sum_double(promo)
            / _exact_sum_double(_revenue())
        ).alias("promo_share_pct"),
        F.count("*").alias("n_items"),
    )


@query(
    "top_supplier_by_revenue",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, {sql_dsum(SQL_REVENUE, 'total_revenue')}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-07-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    covers=["SQ-scalar-max", "J1", "A-extended"],
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: uncorrelated scalar MAX subquery against a reused
    CTE.  The revenue aggregate is computed once; its 1-row MAX is
    broadcast back (a cross join of a singleton — no shuffle of the
    aggregate).  Exact decimal revenue makes the MAX and the equality
    deterministic."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    supplier = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(dsum(_revenue(), "total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        # supplier is SF-growing: never hinted — the left side is ≤ a
        # few rows after the MAX filter, so AQE broadcasts *that* side.
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "inactive_rich_customers",
    oracle=f"""
    SELECT c_mktsegment AS cust_segment, COUNT(*) AS numcust,
           {sql_dsum('c_acctbal', 'totacctbal')}
    FROM customer
    WHERE c_acctbal > (
        SELECT {_sql_exact_sum('c2.c_acctbal')} / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY c_mktsegment
    ORDER BY cust_segment
    """,
    covers=["SQ-scalar-avg", "J4", "A-extended"],
)
def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery (broadcast singleton) +
    NOT EXISTS anti join.  49 qualifying customers at sf0.01 — the
    status filter keeps the anti join non-vacuous (cf. the
    customers_without_orders lesson)."""
    customer = load(spark, sf_dir, "customer")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (_exact_sum_double(F.col("c_acctbal")) / F.count("c_acctbal")).alias("avg_bal")
    )
    open_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(open_orders, customer.c_custkey == open_orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("cust_segment"))
        .agg(F.count("*").alias("numcust"), dsum(F.col("c_acctbal"), "totacctbal"))
        .orderBy("cust_segment")
    )


@query(
    "important_part_value",
    oracle=f"""
    SELECT l_partkey, {sql_dsum('l_extendedprice * l_quantity', 'part_value')}
    FROM lineitem
    GROUP BY l_partkey
    HAVING {_sql_exact_sum('l_extendedprice * l_quantity')} > (
        SELECT 1.25 * {_sql_exact_sum('l_extendedprice * l_quantity')}
               / COUNT(DISTINCT l_partkey)
        FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
    covers=["SQ-fraction-of-total", "A-extended"],
)
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a threshold derived
    from the grand total — here 1.25× the mean per-part value, which is
    scale-invariant (~15% of parts qualify at every SF; a fixed
    fraction-of-total goes vacuous as the part count grows).  The
    scalar is one exact sum / distinct count from the same scan
    (broadcast back), NOT a re-sum of the per-group doubles — re-summing
    doubles would be order-dependent."""
    li = load(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(dsum(value, "part_value"))
    total = li.agg(
        (
            F.lit(1.25) * _exact_sum_double(value) / F.count_distinct("l_partkey")
        ).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "suppliers_kept_waiting",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 180 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 180 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    covers=["SQ-exists-notexists", "J2", "J4", "A-extended"],
)
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS, both correlated with an
    inequality (other-supplier) term.

    Decorrelated to per-order aggregates instead of semi/anti joins:
    after the one lineitem⋈orders join, group to (order, supplier)
    late-item counts, then a window over l_orderkey yields the two
    EXISTS facts — n_supp ≥ 2 ⇔ "another supplier exists", and
    n_late_supp = 1 (with this supplier late) ⇔ "no OTHER supplier was
    late".  The inequality correlation never materializes as a pairwise
    join: one exchange on l_orderkey serves the join, the group-by, and
    the window (HashPartitioning(l_orderkey) satisfies both downstream
    clusterings), so the plan is 2 scans + 1 fact shuffle at any scale.
    numwait stays lineitem-granular (sum of per-pair late-item counts =
    the oracle's COUNT(*))."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load(spark, sf_dir, "supplier")
    # One explicit exchange on the correlation key: the broadcast join,
    # the (orderkey, suppkey) group-by, AND the orderkey window all run
    # inside this partitioning (measured 2.0s → 1.3s at sf0.1 vs the
    # planner's pair-key exchange + window re-exchange).
    li = li.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "l_orderkey"
    )
    late_flag = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 180 DAYS")
    ).cast("long")
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late_flag).alias("n_late_items"))
    )
    w = Window.partitionBy("l_orderkey")
    facts = pair.select(
        "*",
        F.count("*").over(w).alias("n_supp"),
        F.sum((F.col("n_late_items") > 0).cast("int")).over(w).alias("n_late_supp"),
    )
    return (
        facts.filter(
            (F.col("n_late_items") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        # supplier is SF-growing: never hinted (AQE decides at runtime).
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_items").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "min_price_supplier_per_part",
    oracle="""
    SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
           l_extendedprice AS min_price
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size <= 5
      AND l_extendedprice = (
        SELECT MIN(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
    covers=["SQ-correlated-min", "J1", "A2"],
)
def min_price_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN equality — who sells each part at
    its global minimum price.  Decorrelated to a per-part MIN aggregate
    joined back on partkey (raw stored doubles compared for equality:
    no arithmetic, so exact).  DISTINCT collapses equal-price repeats
    of the same (part, supplier)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    supplier = load(spark, sf_dir, "supplier")
    minp = li.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            minp,
            (li.l_partkey == minp.m_partkey)
            & (li.l_extendedprice == minp.min_price),
        )
        # supplier is SF-growing: never hinted (AQE decides at runtime).
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "min_price")
        .distinct()
        .orderBy("p_partkey", "s_suppkey")
    )


@query(
    "nation_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           {_sql_exact_sum(f"CASE WHEN n_name = 'NATION_3' THEN {SQL_REVENUE} ELSE 0 END")}
             / {_sql_exact_sum(SQL_REVENUE)} AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY CAST(year(o_orderdate) AS BIGINT)
    ORDER BY order_year
    """,
    covers=["SQ-conditional-share", "J1", "F4", "A-extended"],
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of supplier revenue per order
    year.  Numerator and denominator aggregate in the same pass (one
    shuffle on the group key); the final division is one rounding on
    exact operands."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    target = F.when(F.col("n_name") == "NATION_3", _revenue()).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # supplier is SF-growing: never hinted (AQE decides at runtime).
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            (_exact_sum_double(target) / _exact_sum_double(_revenue())).alias(
                "mkt_share"
            )
        )
        .orderBy("order_year")
    )
