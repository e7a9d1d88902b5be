"""Storage-format round-trips: ORC and JSON-lines source/sink coverage.

The engine's lake is parquet (``tables.load``), but a complete Spark
surface speaks the other mainstream formats too.  Each query here
WRITES a deterministic projection to the format under test, reads it
back, and aggregates — the oracle computes the same aggregate straight
from the parquet truth, so the round-trip (writer + reader + type
mapping) is what's actually being verified, byte-for-byte.

Round-trip columns are integers and strings: those map losslessly in
every format; float/timestamp round-trips belong to parquet (the lake
format) and are covered by the rest of the suite.

Scale notes: both writers partition like any other Spark write (one
file per task); the read-back is a normal distributed scan.  Writes
land in the session's `session.scratch_dir`, overwrite mode, so
re-runs are idempotent and two sessions on one input directory never
overwrite each other's files under a pending lazy read-back (same
discipline as the snapshot sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edinet_etl_spark.registry import query
from edinet_etl_spark.session import scratch_dir
from edinet_etl_spark.tables import load

_ORC_ORACLE = """
    SELECT o_orderstatus AS orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY orderstatus
"""


@query("orc_roundtrip_stats", oracle=_ORC_ORACLE, covers=["S-formats"])
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source: project orders to (int, string) columns with
    spend pre-converted to exact integer cents, write ORC, read it
    back, aggregate per order status.  A value changed by the ORC
    writer/reader or its type mapping breaks the hash against the
    parquet-truth oracle."""
    path = scratch_dir(spark, sf_dir, "fmt_orc")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy(F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        )
        .orderBy("orderstatus")
    )


_JSONL_ORACLE = """
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c_custkey) AS BIGINT) AS custkey_sum,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(SUM(length(c_name)) AS BIGINT) AS name_bytes
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
"""


@query("jsonl_roundtrip_stats", oracle=_JSONL_ORACLE, covers=["S-formats"])
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source: write customers as JSONL, read back
    with an EXPLICIT schema (inference is banned in a deterministic
    pipeline — it type-flips on content), aggregate per segment.
    String escaping round-trips are exercised by the name-bytes sum."""
    path = scratch_dir(spark, sf_dir, "fmt_jsonl")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    c.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey bigint, c_mktsegment string"
    ).json(path)
    return (
        back.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("c_custkey").cast("bigint").alias("custkey_sum"),
            F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
            F.sum(F.length("c_name")).cast("bigint").alias("name_bytes"),
        )
        .orderBy("segment")
    )


_XML_ORACLE = """
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(p_partkey) AS BIGINT) AS partkey_sum,
           CAST(SUM(p_size) AS BIGINT) AS size_sum,
           CAST(SUM(length(p_type)) AS BIGINT) AS type_bytes
    FROM part
    GROUP BY p_brand
    ORDER BY brand
"""


@query("xml_roundtrip_stats", oracle=_XML_ORACLE, covers=["S-formats"])
def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source (built into Spark 4 — the spark-xml merge):
    write parts as row-tagged XML, read back with an EXPLICIT schema
    and the same rowTag, aggregate per brand.  XML matters to THIS
    engine's domain specifically — EDINET filings are XBRL, i.e. XML
    (the reference parses them in `src/transform.py`; the X1 UDTF
    covers that island) — so the format round-trip proves the generic
    reader/writer path too: entity escaping rides the p_type byte sum
    (types contain spaces and mixed case; any double-escape flips it).

    Scale: one writer task per partition like any format; XML parsing
    is row-local StAX — heavier per byte than parquet, which is why
    the lake stays parquet and XML is an EDGE format (ingest/export),
    exactly how the pipeline layer treats it."""
    path = scratch_dir(spark, sf_dir, "fmt_xml")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_size")
    (
        p.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "parts")
        .option("rowTag", "part")
        .save(path)
    )
    back = (
        spark.read.schema("p_partkey bigint, p_brand string, p_type string, p_size bigint")
        .format("xml")
        .option("rowTag", "part")
        .load(path)
    )
    return (
        back.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("p_partkey").cast("bigint").alias("partkey_sum"),
            F.sum("p_size").cast("bigint").alias("size_sum"),
            F.sum(F.length("p_type")).cast("bigint").alias("type_bytes"),
        )
        .orderBy("brand")
    )
