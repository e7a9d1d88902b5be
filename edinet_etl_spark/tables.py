"""Explicit-schema loaders for the synthetic test tables.

The reference pipeline lets pandas infer every schema at read time
(``/root/reference/src/extract.py:34``, ``src/transform.py:91``) and
hard-codes expected column lists; missing columns surface as runtime
KeyErrors.  Here every table has a declared schema (SURVEY.md §1.3):
loads validate the parquet footer against it, so drift fails fast at
plan time instead of deep inside a job — the discipline that matters
when a 100 TB lake has thousands of files written by many producers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Parquet-footer schemas of the driver tables (TESTDATA.md / FIXTURES.md §A).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as a DataFrame (columnar parquet scan).

    Parquet carries its own schema; Catalyst prunes columns and pushes
    predicates into the scan.  We intentionally do NOT pass
    ``.schema(...)`` here — parquet is self-describing and a mismatched
    declared schema would silently null columns; instead `validate`
    compares post-hoc.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return decode_events(spark, sf_dir, lambda _nanos: spark.read.parquet(path))
    return spark.read.parquet(path)


def events_ts_is_nanos(sf_dir: str, spark: SparkSession | None = None) -> bool:
    """True when ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS)
    (or raw int64 nanos) — the one encoding Spark's vectorized reader
    can't ingest natively.  Probed from the parquet footer so batch
    and streaming (both through `decode_events`) apply the *same* rule
    to the *same* file; the two paths previously duplicated the rule
    and drifted when the fixture switched ns → µs.

    Local paths read the footer directly (pyarrow).  Non-local URIs
    (hdfs://, s3a://, ... — local pyarrow I/O can't resolve them) fall
    back to Spark's own schema inference under the nanosAsLong conf:
    a NANOS file then surfaces ``ts`` as LongType, a MICROS file as
    TimestampType — the same rule, evaluated by the engine that CAN
    reach the filesystem.
    """
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    remote = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) and not path.startswith(
        "file://"
    )
    if remote:
        if spark is None:
            spark = SparkSession.active()
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            dt = spark.read.parquet(path).schema["ts"].dataType
        finally:
            # restore OR unset — leaving the probe's 'true' behind would
            # make every later parquet read in the session surface
            # TIMESTAMP(NANOS) columns as LongType
            if prev is not None:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
            else:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        return isinstance(dt, T.LongType)
    if os.path.isdir(path):
        # multi-file layout (real lakes, the 10x probe's output): all
        # parts share one schema — probe the first data file's footer
        inner = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ) or sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        path = os.path.join(path, inner[0])
    t = pq.read_schema(path).field("ts").type
    return pa.types.is_int64(t) or (pa.types.is_timestamp(t) and t.unit == "ns")


def decode_events(
    spark: SparkSession, sf_dir: str, read: Callable[[bool], DataFrame]
) -> DataFrame:
    """The events columns over ``read(ts_is_nanos)``, the one ``ts``
    decode shared by the batch loader and the streams.

    An events feed written with parquet TIMESTAMP(NANOS) is rejected
    outright by Spark's vectorized reader.  When the footer says nanos,
    ``read`` runs with the nanos read as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``), and they are
    floor-divided to microseconds — the same truncation DuckDB applies
    when it narrows ns → µs, so both engines see identical instants.  A
    regular TIMESTAMP(MICROS) file passes through.
    """
    nanos = events_ts_is_nanos(sf_dir, spark)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts = F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
    else:
        ts = F.col("ts")
    return read(nanos).select("event_id", ts, "user_id", "event_type", "value", "props")


def parallel_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`load`, plus a round-robin repartition IF the scan itself cannot
    feed the cluster.

    Parquet parallelism is bounded by row groups: an unsplittable file
    (one row group — true of the test fixtures, and of real lakes fed by
    small-batch writers) pins the scan AND everything pipelined onto it
    (filters, partial aggregates, broadcast-join probes) to one task.
    When the planned scan has fewer partitions than half the cores, one
    cheap row-level exchange buys whole-cluster execution for the rest
    of the stage.  On a healthy 100 TB layout the scan yields thousands
    of splits and this is a no-op — the repartition only fires when the
    layout is the bottleneck.  Callers doing pure scan→filter→project
    (no heavy compute per row) should stay on plain `load`.
    """
    df = load(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if _scan_parallelism(f"{sf_dir}/{name}.parquet", df) < max(2, cores // 2):
        df = df.repartition(cores)
    return df


def _scan_parallelism(path: str, df: DataFrame) -> int:
    """Effective parquet scan parallelism = row groups (the split unit).

    The footer read is a few KB of local I/O — far cheaper than
    materializing the RDD lineage to ask for partition counts.  On a
    non-local filesystem (no pyarrow reach) fall back to Spark's own
    planned partitioning.
    """
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_row_groups
    except Exception:
        return df.rdd.getNumPartitions()


def validate(df: DataFrame, name: str) -> DataFrame:
    """Fail fast if a table's on-disk schema drifted from the declared
    one — NAMES and TYPES both (name-only comparison would wave
    through exactly the drift this guard exists for, e.g. an events
    regeneration surfacing ts as raw INT64 nanos)."""
    expected = SCHEMAS[name]
    got = df.schema
    if [f.name for f in got.fields] != [f.name for f in expected.fields]:
        raise ValueError(
            f"{name}: column drift: {got.fieldNames()} != {expected.fieldNames()}"
        )
    mismatched = [
        (g.name, g.dataType.simpleString(), e.dataType.simpleString())
        for g, e in zip(got.fields, expected.fields)
        if g.dataType != e.dataType
    ]
    if mismatched:
        raise ValueError(f"{name}: type drift: {mismatched}")
    return df
