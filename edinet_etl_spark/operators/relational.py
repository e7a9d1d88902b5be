"""M1 core relational surface: scan → filter → project → join → agg → sort/limit.

Re-expresses the reference's relational skeleton (SURVEY.md §2.1-§2.3:
projections P1, equality/null/membership filters P2-P6, broadcast inner
join J1, semi join J2, anti join J4, counts A3, unions U1/U2) on the
TPC-H-ish test tables, plus the scan-to-limit "flagship" spine (§7.1).

Scale notes (100 TB):
- Fixed-size dimension joins (region/nation/supplier) are explicitly
  ``F.broadcast`` — no shuffle of the fact table for enrichment,
  mirroring the reference's in-memory lookup at ``src/transform.py:169``
  but distributed.  Tables that GROW with scale (customer, part) are
  never hinted: AQE broadcasts them at small SF and falls back to a
  shuffle join when runtime size exceeds the threshold — a forced hint
  would override that exactly when it matters.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE
  handles skew.  Filters are applied before joins so Catalyst pushes
  them into the parquet scan (verified in tests/test_plans.py).
- Aggregations use partial (map-side) aggregation automatically; sums
  go through exact decimal (numeric.py) so results are identical under
  any re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import davg, dec, dsum, sql_davg, sql_dsum
from edinet_etl_spark.exprs import SQL_REVENUE, revenue
from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load, parallel_scan



@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum(SQL_REVENUE, 'sum_disc_price')},
           {sql_dsum(SQL_REVENUE + ' * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc', scale=6)},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    covers=["A-extended", "P2", "F11"],
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate scan with map-side combine."""
    # 8 decimal aggregates per row: compute-bound, so an unsplittable
    # scan serializes the whole query — parallel_scan lifts it
    li = parallel_scan(spark, sf_dir, "lineitem")
    charge = revenue() * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(revenue(), "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc", scale=6),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "revenue_by_nation_year",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS order_year,
           {sql_dsum(SQL_REVENUE, 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
    ORDER BY nation, order_year
    """,
    covers=["J1", "J2", "A-extended", "F4", "F11", "F12"],
)
def revenue_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7.1): the reference's final analytics shape —
    "revenue per company-year" (``src/transform.py:204-211``) transposed
    to revenue per nation-year.

    Join order is DIMENSION-REDUCTION FIRST (round-6 rewrite, measured
    3.3× at the 100× probe: 14.3→4.4 s at sf10): customer⋈nation⋈region
    filters to ASIA (1/5 of customers) BEFORE any fact row is touched,
    then orders joins the reduced customer set, and lineitem — the
    100 TB table — joins last, against only ASIA orders.  Catalyst has
    no CBO stats here and will not reorder joins on its own, so the
    written order IS the executed order; the old fact-first order
    joined every lineitem row to every customer and threw 4/5 of the
    work away at the region filter.  nation/region carry explicit
    broadcast hints (true fixed-size dims); customer is NOT hinted
    (15 M rows at sf100 — past any broadcast threshold at 100 TB):
    AQE broadcasts the reduced slice while it fits and switches to a
    shuffle join when it outgrows the threshold.  The fact shuffles
    once, on l_orderkey.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    cust_asia = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey", "n_name")
    )
    ord_asia = orders.join(
        cust_asia, orders.o_custkey == cust_asia.c_custkey
    ).select("o_orderkey", "o_orderdate", "n_name")
    return (
        li.join(ord_asia, li.l_orderkey == ord_asia.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(dsum(revenue(), "revenue"), F.count("*").alias("n_items"))
        .orderBy("nation", "order_year")
    )


@query(
    "top_unshipped_orders",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(SQL_REVENUE, 'revenue')},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    covers=["J1", "P2", "L1", "A-extended"],
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective join + agg + deterministic top-N.

    LIMIT follows a total ORDER BY (revenue is exact-decimal so the sort
    key is deterministic; l_orderkey breaks ties) — the L1 arrival-order
    discipline from SURVEY §2.6 applied Spark-side.

    No forced broadcast: the BUILDING-segment slice of customer is
    still 1/5 of a table that grows with SF (3 M rows at sf100), so
    the join strategy is AQE's call — broadcast at small SF, shuffle
    join once the filtered dimension outgrows the threshold.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue(), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    covers=["J2", "P6", "A3"],
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join with a non-equi term
    (the reference's membership guards P6/P9 are this join in disguise,
    ``src/extract.py:157-159``)."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name AS nation, {sql_dsum(SQL_REVENUE, 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, nation
    """,
    covers=["J1", "P2", "A-extended"],
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a two-column join predicate."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        # supplier grows with SF (~1 B rows at 100 TB): never hinted —
        # AQE converts to broadcast at runtime when the side is small.
        .join(
            supplier,
            (F.col("l_suppkey") == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue(), "revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    covers=["P2", "A-extended", "F11"],
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; all four predicates
    push into the parquet scan (PushedFilters), so at 100 TB this reads
    only row groups whose min/max straddle the ranges."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count("*").alias("n_items"),
    )


@query(
    "filtered_customer_projection",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 0 AND c_name IS NOT NULL
    """,
    covers=["P1", "P2", "P4"],
)
def filtered_customer_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P1/P2/P4 (``src/extract.py:37-50``): project 4 of 5
    columns, equality + range filter, NOT-NULL guard.  Column pruning +
    predicate pushdown reach the scan."""
    return (
        load(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "MACHINERY")
            & (F.col("c_acctbal") > 0)
            & F.col("c_name").isNotNull()
        )
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    )


@query(
    "part_membership_filters",
    oracle="""
    SELECT p_partkey, p_brand, p_type, p_size
    FROM part
    WHERE p_brand IN ('Brand#13', 'Brand#25', 'Brand#7')
      AND p_size NOT IN (1, 2, 3)
      AND p_type <> 'PROMO'
    """,
    covers=["P5", "P6"],
)
def part_membership_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P5/P6 (``src/extract.py:53-60,157-159``): isin /
    not-isin membership predicates (small literal sets stay as scan
    filters; large sets become semi-joins — see supplier_semi_join)."""
    return (
        load(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#13", "Brand#25", "Brand#7")
            & ~F.col("p_size").isin(1, 2, 3)
            & (F.col("p_type") != "PROMO")
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    covers=["J4"],
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (reference J4 logging path, ``src/transform.py:165-167``):
    customers with no FINISHED order.  (Every customer has some order
    in the fixture, so an unfiltered anti join would return zero rows —
    a vacuous check; the status filter keeps the result non-empty at
    every SF.)"""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "suppliers_with_shipments",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
    covers=["J2", "U3"],
)
def suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (reference J2 hash-set membership, ``src/extract.py:150-159``):
    the big side streams; no duplicate explosion, no distinct needed."""
    supplier = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    return supplier.join(li, supplier.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "region_nation_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
    covers=["J-extended"],
)
def region_nation_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two broadcast-sized dims (125 rows)."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@query(
    "order_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 100000
    """,
    covers=["U1", "U2"],
)
def order_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all (reference U1/U2 accumulate/concat,
    ``src/extract.py:126-127`` / ``src/transform.py:241-252``) — in
    Spark a zero-copy logical union, not a driver-side concat."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F")
    b = orders.filter(F.col("o_totalprice") > 100000)
    return a.unionByName(b).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "table_counts",
    oracle="""
    SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem
    UNION ALL SELECT 'orders' AS tbl, COUNT(*) AS n FROM orders
    UNION ALL SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
    """,
    covers=["A3"],
)
def table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic counts (reference A3, ``src/extract.py:35,63-65``)."""

    def one(name: str) -> DataFrame:
        return load(spark, sf_dir, name).agg(F.count("*").alias("n")).select(
            F.lit(name).alias("tbl"), F.col("n")
        )

    return one("lineitem").unionByName(one("orders")).unionByName(one("customer"))


@query(
    "nullsafe_segment_match",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
    FROM (SELECT c_custkey,
                 CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
          FROM customer) a
    JOIN (SELECT c_custkey,
                 CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
          FROM customer) b
      ON a.seg IS NOT DISTINCT FROM b.seg
     AND a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 40 AND b.c_custkey < 40
    """,
    covers=["J-extended", "P-extended"],
)
def nullsafe_segment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    matches NULL — the semantics dimension plain ``=`` joins silently
    drop.  Some customers' segments are nulled (key % 7) to make the
    difference observable; still a hash join (null-safe equality is a
    valid equi-key, nulls hash together)."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 40)
    seg = F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("c_mktsegment")
    )
    a = cust.select(F.col("c_custkey").alias("cust_a"), seg.alias("seg_a"))
    b = cust.select(F.col("c_custkey").alias("cust_b"), seg.alias("seg_b"))
    return a.join(
        b,
        (F.col("seg_a").eqNullSafe(F.col("seg_b")))
        & (F.col("cust_a") < F.col("cust_b")),
    ).select("cust_a", "cust_b")


@query(
    "nation_balance_full_join",
    oracle=f"""
    WITH c AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_rich_customers,
             {sql_dsum('c_acctbal', 'cust_balance')}
      FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey
    ), s AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_solvent_suppliers,
             {sql_dsum('s_acctbal', 'supp_balance')}
      FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           n_rich_customers, cust_balance,
           n_solvent_suppliers, supp_balance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
    covers=["J-extended"],
)
def nation_balance_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the remaining `how=` mode; SURVEY §2.3): per-
    nation top-tier customer vs solvent supplier balances, where each
    side has nations the other lacks — both null-extension directions
    are exercised (10 supplier-only, 3 customer-only at sf0.01).
    Full outer cannot broadcast (both sides must null-extend), so
    Catalyst plans a sort-merge join on the aggregate outputs — which
    are already tiny post-aggregation; at 100 TB the pre-aggregation is
    what keeps this cheap, not the join strategy."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(
            F.count("*").alias("n_rich_customers"),
            dsum(F.col("c_acctbal"), "cust_balance"),
        )
    )
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(
            F.count("*").alias("n_solvent_suppliers"),
            dsum(F.col("s_acctbal"), "supp_balance"),
        )
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            "n_rich_customers",
            "cust_balance",
            "n_solvent_suppliers",
            "supp_balance",
        )
        .orderBy("nationkey")
    )
