"""SQL entry point (the engine's second declarative surface).

Everything else in this repo uses the DataFrame API; this module
proves the same Catalyst plans are reachable through ``spark.sql`` —
temp views + CTEs + window functions in pure SQL text, the interface
a reference user migrating existing SQL would hit first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load, parallel_scan

# sql_dsum's exact-decimal discipline, spelled in the dialect common to
# Spark AND DuckDB (``STRING`` is the shared cast name; bare VARCHAR
# fails in Spark).
_DSUM = (
    "CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)"
    " AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS revenue"
)

_SQL = f"""
WITH nation_rev AS (
  SELECT n.n_name, r.r_name,
         {_DSUM}
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name, r.r_name
), ranked AS (
  SELECT r_name, n_name, revenue,
         ROW_NUMBER() OVER (PARTITION BY r_name
                            ORDER BY revenue DESC, n_name) AS rk
  FROM nation_rev
)
SELECT r_name, n_name, revenue FROM ranked WHERE rk = 1
"""


@query(
    "sql_top_nation_per_region",
    # the oracle IS the same SQL — DuckDB runs it over its own views
    oracle=_SQL,
    covers=["A-extended", "W-extended", "J1"],
)
def sql_top_nation_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue nation per region, expressed as pure SQL text
    (CTEs + 5-way join + window).  The exact same string runs in
    DuckDB as the oracle — SQL-level engine interchangeability, the
    strongest form of the parity contract."""
    # the lineitem view carries the whole stage's work (4 broadcast
    # probes + the per-row decimal revenue term pipelined onto the
    # scan): on a one-row-group layout that is a single task, so the
    # fact view rides parallel_scan (no-op on a healthy layout) —
    # the SQL text itself is untouched, preserving the
    # same-string-in-both-engines parity contract
    parallel_scan(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    for t in ("orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey < 50
"""


@query(
    "sql_lateral_top2_orders",
    # identical string runs as the DuckDB oracle
    oracle=_LATERAL_SQL,
    covers=["SQ-lateral", "L1", "W-extended"],
)
def sql_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) — the
    per-row-subquery surface SQL users reach for before learning window
    functions.  Catalyst decorrelates it into the same
    window-rank-then-filter plan as top3_orders_per_priority, so the
    nested-loop the syntax implies never executes; the inner ORDER BY +
    LIMIT is total (o_orderkey tiebreak), keeping results
    deterministic.  The identical string is the DuckDB oracle."""
    for t in ("customer", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_SQL = """
WITH RECURSIVE sched(o_orderkey, month, balance) AS (
  SELECT o_orderkey, CAST(0 AS BIGINT) AS month,
         CAST(o_totalprice AS DOUBLE) AS balance
  FROM (SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey LIMIT 50)
  UNION ALL
  SELECT o_orderkey, month + 1,
         balance * 1.005 - balance * 0.25
  FROM sched WHERE month < 6
)
SELECT o_orderkey, month, balance FROM sched
"""


@query(
    "sql_recursive_paydown",
    # identical string runs as the DuckDB oracle
    oracle=_RECURSIVE_SQL,
    covers=["A-extended", "SQ-recursive"],
)
def sql_recursive_paydown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): a 6-step balance
    schedule per order — monthly 0.5 % interest accrual minus a 25 %
    proportional paydown — where each row is a NON-LINEAR function of
    the previous one, the class of iteration window frames cannot
    express (a window can accumulate, it cannot compound).  The
    identical string is the DuckDB oracle, extending SQL-level engine
    interchangeability to the recursive surface.

    Engine notes, measured here: Spark 4 recursion supports UNION ALL
    only (UNION-dedup closure semantics — BFS visited sets — raise
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so recursion must be
    acyclic with an explicit depth guard; both engines evaluate the
    arithmetic as IEEE doubles (two multiplies + one subtract per
    step), bit-identical across 350 rows.  Scale: recursion depth is
    the constant 7-row-per-key unroll; each step is one pass over the
    previous step's (partitioned) output — the same bounded-iteration
    law as `pagerank_event_graph`, via SQL instead of a driver loop.
    The 50-order cap keeps the anchor deterministic (total ORDER BY
    before LIMIT, per CLAUDE.md)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SQL)
