"""M2 reference-parity operators: the pandas idioms of the reference
re-expressed as Spark primitives (SURVEY.md §2.4-§2.8).

- A1 priority dedup   → window row_number over an explicit priority
- A2 size argmax      → max_by with a total-order tiebreak
- J3/P11 map decode   → literal map lookup, unknown→null→filtered
- P7/P8 dynamic value → scalar subquery-style two-step
- P10/F10 cast-skip   → try_cast → isNotNull (ANSI-safe)
- F5-F9 string fns, F1-F4 date fns, L1/L2 deterministic head-N,
  U3 distinct, intersect/except.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import dsum, sql_dsum
from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load


@query(
    "best_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY (CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END),
                        o_orderdate, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    covers=["A1", "L1"],
)
def best_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 priority dedup (``src/transform.py:109-145``): the reference
    keeps one filing per company with docType '130' (amended) beating
    '120', first-seen breaking ties.  Same shape: one order per
    customer, '1-URGENT' beats all, then earliest date, then orderkey
    (the explicit arrival index SURVEY §2.11(d) demands).

    Scale: a single hash-partitioned window over o_custkey — one
    shuffle, no driver involvement, works at any cardinality.
    """
    orders = load(spark, sf_dir, "orders")
    prio = F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1)
    w = Window.partitionBy("o_custkey").orderBy(prio, "o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate")
    )


@query(
    "largest_lineitem_per_order",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_quantity DESC, l_linenumber DESC
             ) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    covers=["A2"],
)
def largest_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 argmax-by-size (``src/utils/helper.py:76-77``: pick the largest
    ZIP member): ``max_by`` with a struct ordering key whose second
    component makes the order total (deterministic under ties)."""
    li = load(spark, sf_dir, "lineitem")
    key = F.struct(F.col("l_quantity"), F.col("l_linenumber"))
    return li.groupBy("l_orderkey").agg(
        F.max_by("l_linenumber", key).alias("l_linenumber"),
        F.max_by("l_quantity", key).alias("l_quantity"),
    )


@query(
    "year_offset_decode",
    oracle=f"""
    SELECT CAST(year(l_shipdate) + (CASE l_linenumber
             WHEN 1 THEN 0 WHEN 2 THEN -1 WHEN 3 THEN -2
             WHEN 4 THEN -3 WHEN 5 THEN -4 END) AS BIGINT) AS fiscal_year,
           COUNT(*) AS n,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    WHERE l_linenumber IN (1, 2, 3, 4, 5)
    GROUP BY 1
    ORDER BY fiscal_year
    """,
    covers=["J3", "P11", "F11", "F15"],
)
def year_offset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P11/F15 (``src/transform.py:171-194``): the reference decodes
    contextRef → year-offset through a 5-entry dict, skipping unknown
    keys.  Spark form: a literal ``create_map`` lookup; unknown keys
    null out and are filtered — exactly the reference's skip semantics.
    A 5-entry map is a codegen'd expression: no join, no shuffle."""
    li = load(spark, sf_dir, "lineitem")
    mapping = F.create_map(
        *[F.lit(x) for pair in [(1, 0), (2, -1), (3, -2), (4, -3), (5, -4)] for x in pair]
    )
    offset = mapping[F.col("l_linenumber")]
    return (
        li.withColumn("year_offset", offset)
        .filter(F.col("year_offset").isNotNull())
        .withColumn(
            "fiscal_year",
            (F.year("l_shipdate") + F.col("year_offset")).cast("bigint"),
        )
        .groupBy("fiscal_year")
        .agg(F.count("*").alias("n"), dsum(F.col("l_quantity"), "sum_qty"))
        .orderBy("fiscal_year")
    )


@query(
    "cast_failure_skip",
    oracle="""
    SELECT CAST(SUM(v) AS BIGINT) AS total, COUNT(*) AS n_valid
    FROM (
      SELECT TRY_CAST(
               (CASE WHEN p_size % 2 = 0 THEN split_part(p_brand, '#', 2)
                     ELSE p_type END) AS BIGINT) AS v
      FROM part
    ) WHERE v IS NOT NULL
    """,
    covers=["P10", "F10"],
)
def cast_failure_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F10 (``src/transform.py:196-202``): the reference wraps
    ``int(row['値'])`` in try/except and skips failing rows.  Spark
    form: ``try_cast`` → null → filter (ANSI-mode safe)."""
    part = load(spark, sf_dir, "part")
    raw = F.when(F.col("p_size") % 2 == 0, F.split(F.col("p_brand"), "#")[1]).otherwise(
        F.col("p_type")
    )
    return (
        part.select(raw.try_cast("bigint").alias("v"))
        .filter(F.col("v").isNotNull())
        .agg(F.sum("v").alias("total"), F.count("*").alias("n_valid"))
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           CAST(TRY_CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS BIGINT) AS brand_num,
           split_part(p_name, ' ', 1) AS first_word,
           upper(p_name) AS name_upper,
           substr(p_type, 1, 3) AS type_prefix,
           concat(p_brand, '_', p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           (CASE WHEN p_name LIKE '%bolt%' THEN TRUE ELSE FALSE END) AS is_bolt,
           replace(p_name, ' ', '-') AS slug
    FROM part
    """,
    covers=["F5", "F6", "F7", "F8", "F9"],
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-F9 string surface (``src/transform.py:120,161-162``,
    ``src/utils/helper.py:82-85``): split-index, regex group extract,
    replace, concat, suffix/contains tests — all codegen'd, no UDFs."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), r"Brand#(\d+)", 1)
        .try_cast("bigint")
        .alias("brand_num"),
        F.split(F.col("p_name"), " ")[0].alias("first_word"),
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("_"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.col("p_name").contains("bolt").alias("is_bolt"),
        F.regexp_replace(F.col("p_name"), " ", "-").alias("slug"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)    AS order_year,
           CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
           CAST(month(o_orderdate) AS BIGINT)   AS order_month,
           CAST(day(o_orderdate) AS BIGINT)     AS order_day,
           strftime(o_orderdate, '%Y-%m-%d')    AS order_date_str,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
    FROM orders
    """,
    covers=["F1", "F2", "F3", "F4", "F7"],
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4/F7 date surface (``src/extract.py:101-110``,
    ``src/transform.py:44-46``): parse/format/extract/arithmetic."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_add(F.col("o_orderdate").cast("date"), 30)
        .cast("timestamp")
        .alias("due_ts"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
    )


@query(
    "date_range_generation",
    oracle="""
    SELECT CAST(d AS TIMESTAMP) AS day, CAST(year(d) AS BIGINT) AS y
    FROM (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS d
    )
    ORDER BY day
    """,
    covers=["F2", "S2"],
)
def date_range_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (``src/extract.py:107-111``): the reference's day-step polling
    loop becomes ``explode(sequence(...))`` — the date axis of the
    ingestion job is itself a DataFrame, partitionable across executors
    (this is what distributes the EDINET fetch, SURVEY §3)."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    return days.select(
        F.col("d").cast("timestamp").alias("day"),
        F.year("d").cast("bigint").alias("y"),
    ).orderBy("day")


@query(
    "deterministic_top_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    covers=["L1", "L2"],
)
def deterministic_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 head-N (``src/extract.py:204-205``, ``src/transform.py:97-98``):
    pandas' positional head depends on arrival order; the Spark analogue
    pins a total order first.  TakeOrderedAndProject = per-partition
    top-N then merge — no global sort materialization."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@query(
    "distinct_nation_segments",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    """,
    covers=["U3"],
)
def distinct_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 distinct-set build (``src/extract.py:151``) — hash aggregate,
    partial dedup map-side before the shuffle."""
    return load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


@query(
    "segment_intersect",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
    covers=["U-extended"],
)
def segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = customer.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersect(b)


@query(
    "fulfilled_only_customers_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    covers=["U-extended"],
)
def fulfilled_only_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): customers with a fulfilled order and no
    open one.  Both sides draw from the same per-customer order mix, so
    the difference is density-structural and stays non-empty at every
    SF (an earlier nation-level EXCEPT saturated: by sf0.1 every nation
    had a qualifying supplier, making the check vacuous)."""
    orders = load(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)  # EXCEPT (distinct), same as the SQL oracle


@query(
    "dynamic_value_filter",
    oracle="""
    WITH marker AS (
      SELECT o_orderpriority AS p
      FROM orders ORDER BY o_orderkey LIMIT 1
    )
    SELECT o_orderkey, o_orderpriority
    FROM orders, marker
    WHERE o_orderpriority = marker.p
    """,
    covers=["P7", "P8"],
)
def dynamic_value_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 (``src/transform.py:94-100``): filter rows by a value
    discovered from the data itself (the reference pulls row 1's 要素ID
    then masks on it).  Spark form: 1-row DF cross-joined in — stays a
    broadcast nested-loop with a 1-row build side; no collect()."""
    orders = load(spark, sf_dir, "orders")
    marker = (
        orders.orderBy("o_orderkey")
        .limit(1)
        .select(F.col("o_orderpriority").alias("_marker"))
    )
    return (
        orders.crossJoin(F.broadcast(marker))
        .filter(F.col("o_orderpriority") == F.col("_marker"))
        .select("o_orderkey", "o_orderpriority")
    )


@query(
    "flag_dispatch",
    oracle="""
    SELECT o_orderkey,
           (CASE WHEN o_orderstatus = 'F' THEN '5'
                 WHEN o_orderstatus = 'O' THEN '1' END) AS fetch_type
    FROM orders
    WHERE (CASE WHEN o_orderstatus = 'F' THEN '5'
                WHEN o_orderstatus = 'O' THEN '1' END) IS NOT NULL
    """,
    covers=["P12", "P13"],
)
def flag_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/P13 flag-dispatch (``src/extract.py:177-184``): csvFlag='1'
    → type 5, else xbrlFlag='1' → type 1, else drop — a when/when/
    otherwise cascade plus null filter."""
    orders = load(spark, sf_dir, "orders")
    fetch_type = (
        F.when(F.col("o_orderstatus") == "F", F.lit("5"))
        .when(F.col("o_orderstatus") == "O", F.lit("1"))
        .otherwise(F.lit(None))
    )
    return (
        orders.withColumn("fetch_type", fetch_type)
        .filter(F.col("fetch_type").isNotNull())
        .select("o_orderkey", "fetch_type")
    )


@query(
    "returnflag_multiset_ops",
    oracle="""
    SELECT 'except_all' AS op, l_quantity, COUNT(*) AS n
    FROM (
      SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
      EXCEPT ALL
      SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A')
    GROUP BY l_quantity
    UNION ALL
    SELECT 'intersect_all' AS op, l_quantity, COUNT(*) AS n
    FROM (
      SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A')
    GROUP BY l_quantity
    ORDER BY op, l_quantity
    """,
    covers=["U-extended"],
)
def returnflag_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (SURVEY §2.7: the reference has
    none; a complete engine exposes the ALL variants): the multiset of
    returned-item quantities EXCEPT ALL / INTERSECT ALL the accepted
    multiset, i.e. per-value count differences clipped at zero and
    pairwise minima.  Both engines implement identical multiplicity
    semantics; the grouped (value, n) output makes row order
    irrelevant.

    Plan note: Spark compiles each ALL op into a count-compare
    aggregate + generate (replicate rows to the surviving
    multiplicity) — one shuffle per side on the value, no join blowup;
    at scale prefer the explicit two-count aggregate if the
    multiplicities are the end goal, as here."""
    li = load(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    a = li.filter(F.col("l_returnflag") == "A").select("l_quantity")
    ex = (
        r.exceptAll(a)
        .groupBy("l_quantity")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "l_quantity", "n")
    )
    inter = (
        r.intersectAll(a)
        .groupBy("l_quantity")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "l_quantity", "n")
    )
    return ex.unionByName(inter).orderBy("op", "l_quantity")
