"""The pluggable-function surface (SURVEY.md §2.10): the reference has
no function API; this module exposes the six Spark extension points a
user would reach for, each proven against the SQL oracle:

- **scalar pandas_udf** — Arrow-vectorized per-row function
  (numpy body, zero Python-loop rows);
- **grouped-agg pandas_udf** — a UDAF: whole group in, scalar out;
- **grouped-map applyInPandas** — whole group in, frame out;
- **Python UDTF** (Spark ≥ 3.5 ``@udtf``) — table function usable
  from SQL via LATERAL join;
- **cogroup().applyInPandas** — two keyed frames aligned per key
  through one Arrow island (`cogrouped_asof_pandas`);
- **mapInArrow** — raw RecordBatch in/out, zero pandas
  materialization (`arrow_token_totals`).

UDF objects are built lazily inside the query functions: the
``pandas_udf``/``udtf`` decorators parse their DDL return types
against the *active* session, which does not exist at import time in
a registry-driven engine.

Determinism notes: the UDF bodies use only exact float ops (clip,
median-of-two averaging) so results stay bit-comparable to DuckDB —
the same discipline the built-in surface follows (numeric.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import dec8
from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load


def _clip_balance_udf():
    """Scalar pandas UDF: clamp to [0, 5000].  Arrow batches in/out;
    the body is one vectorized numpy op."""

    @F.pandas_udf("double")
    def clip_balance(bal: pd.Series) -> pd.Series:
        return bal.clip(lower=0.0, upper=5000.0)

    return clip_balance


@query(
    "pandas_udf_clipped_balances",
    oracle="""
    SELECT c_custkey,
           LEAST(GREATEST(c_acctbal, 0.0), 5000.0) AS clipped_bal
    FROM customer
    """,
    covers=["X-udf"],
)
def pandas_udf_clipped_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-pandas_udf path vs the equivalent SQL expression:
    clipping is exact (returns one of the inputs), so the Arrow
    round-trip must be bit-transparent."""
    cust = load(spark, sf_dir, "customer")
    clip_balance = _clip_balance_udf()
    return cust.select(
        "c_custkey", clip_balance(F.col("c_acctbal")).alias("clipped_bal")
    )


def _median_agg_udf():
    """Grouped-agg pandas UDF (UDAF shape): whole group's values in,
    one scalar out.  Median is selection + at most one exact halving —
    engine-portable, unlike sum/mean of many floats."""

    @F.pandas_udf("double")
    def median_agg(v: pd.Series) -> float:
        return float(v.median())

    return median_agg


@query(
    "udaf_median_acctbal_by_nation",
    oracle="""
    SELECT c_nationkey, MEDIAN(c_acctbal) AS median_bal
    FROM customer GROUP BY c_nationkey
    """,
    covers=["X-udf", "A-extended"],
)
def udaf_median_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation beyond the built-in set, grouped-agg
    pandas_udf form: one shuffle on the group key, each group's values
    stream to Python as a single Arrow batch."""
    cust = load(spark, sf_dir, "customer")
    median_agg = _median_agg_udf()
    return cust.groupBy("c_nationkey").agg(
        median_agg(F.col("c_acctbal")).alias("median_bal")
    )


class CharNgrams:
    """Python UDTF: one text in → one row per character 3-gram.
    Registered for SQL (``LATERAL``), the table-function shape the
    reference's 1-file→N-rows parsers (X1/X2) generalize to."""

    def eval(self, text: str):
        if text is None:
            return
        for i in range(max(0, len(text) - 2)):
            yield text[i : i + 3], i + 1


@query(
    "udtf_char_ngrams",
    oracle="""
    SELECT doc_id, substr(text, CAST(i AS INT), 3) AS ngram, CAST(i AS INT) AS pos
    FROM (
      SELECT doc_id, text, unnest(generate_series(1, n_chars - 2)) AS i
      FROM documents
    )
    WHERE doc_id < 25
    """,
    covers=["X-udtf", "M6-text"],
)
def udtf_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered UDTF invoked from SQL with a LATERAL join —
    Python generates the rows, the oracle derives the identical table
    declaratively.  (Query capped to doc_id<25: UDTF row generation is
    the slow path by design; the M6 text operators do this same
    expansion in codegen.)"""
    spark.udtf.register(
        "char_ngrams", F.udtf(CharNgrams, returnType="ngram string, pos int")
    )
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.ngram, t.pos
        FROM documents d, LATERAL char_ngrams(d.text) t
        WHERE d.doc_id < 25
        """
    )


def _zscore_fn():
    """Grouped-map kernel: whole group in, same-cardinality frame out.
    Moments come from exact decimal sums (`numeric.dec8`, quantized
    like the engine's HALF_UP cast), so mean/std — and therefore every
    z-score — are bit-identical to the SQL oracle's decimal-sum
    formulation."""
    import math

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        raw = [float(v) for v in pdf["value"]]
        n = len(raw)
        s1 = sum(dec8(v) for v in raw)
        # square in DOUBLE first (bit-identical in any engine), then
        # quantize: a decimal×decimal square would overflow narrow
        # decimal lanes, and values carry ≤2 decimals so their squares
        # (≤4 decimals) sit exactly on the 1e-8 grid — lossless
        s2 = sum(dec8(v * v) for v in raw)
        mean = float(str(s1)) / n
        var = float(str(s2)) / n - mean * mean
        # math.sqrt is the IEEE correctly-rounded sqrt (matches SQL
        # sqrt); ``var ** 0.5`` routes through pow and can differ by 1 ulp
        std = math.sqrt(var) if var > 0 else 0.0
        out = pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "value": pdf["value"],
                "zscore": [
                    (float(v) - mean) / std if std > 0 else 0.0
                    for v in pdf["value"]
                ],
            }
        )
        return out

    return zscore


@query(
    "grouped_map_user_zscore",
    oracle="""
    WITH m AS (
      SELECT user_id,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value * value AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, e.value,
           CASE WHEN (m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n)) > 0
                THEN (e.value - m.s1 / m.n)
                     / sqrt(m.s2 / m.n - (m.s1 / m.n) * (m.s1 / m.n))
                ELSE 0.0 END AS zscore
    FROM events e JOIN m USING (user_id)
    """,
    covers=["X-udf", "A-extended"],
)
def grouped_map_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` (the fourth UDF shape: group in →
    frame out): per-user z-scores.  One shuffle on the group key; each
    group crosses to Python once as an Arrow batch.  The oracle derives
    the same scores relationally from decimal moment sums — proving
    the Python frame transform row-for-row."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        _zscore_fn(),
        schema="user_id long, event_id long, value double, zscore double",
    )


_BAND_CASE = (
    "CASE WHEN o_totalprice < 50000 THEN 'low' "
    "WHEN o_totalprice < 200000 THEN 'mid' ELSE 'high' END"
)


@query(
    "sql_udf_band_totals",
    oracle=f"""
    SELECT {_BAND_CASE} AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS VARCHAR)
                AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
    covers=["X-udf", "A-extended"],
)
def sql_udf_band_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDF surface: a function DEFINED IN SQL
    (CREATE TEMPORARY FUNCTION … RETURNS … RETURN expr) used from a
    SQL query — the pluggable-function path that stays entirely inside
    Catalyst: the body inlines into the plan at analysis time, so the
    "UDF" costs nothing at runtime (full codegen, pushdown-friendly),
    unlike the Python UDF boundary the other udf_surface queries
    deliberately exercise.  The oracle inlines the same expression —
    results compare, mechanism differs by design."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p < 50000 THEN 'low' "
        "WHEN p < 200000 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS STRING)
                    AS DOUBLE) AS total_price
        FROM orders_v
        GROUP BY price_band(o_totalprice)
        """
    )


class _WordColumns:
    """Polymorphic UDTF kernel: output schema is DERIVED FROM THE CALL
    SITE by ``analyze`` — ``word_columns(text, 3)`` yields (w0, w1,
    w2), ``word_columns(text, 5)`` five columns — one registration
    serving any width.  ``eval`` pads short texts with NULLs so the
    row always matches the analyzed schema."""

    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        if not isinstance(n.value, int) or n.value < 1:
            raise ValueError("word_columns: n must be a positive integer literal")
        schema = StructType()
        for i in range(n.value):
            schema = schema.add(f"w{i}", StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, text: str, n: int):
        ws = (text or "").split(" ")
        yield tuple(ws[i] if i < len(ws) else None for i in range(n))


@query(
    "udtf_dynamic_word_columns",
    oracle="""
    SELECT doc_id, ws[1] AS w0, ws[2] AS w1, ws[3] AS w2
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id < 25
    """,
    covers=["X-udtf", "M6-text"],
)
def udtf_dynamic_word_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 polymorphic Python UDTF: no static ``returnType`` — the
    ``analyze`` static method computes the output schema from the
    call's literal arguments at PLAN TIME (here: first-3-words
    columns), the table-function analogue of a generic function.  The
    static UDTF (`udtf_char_ngrams`) fixes its schema at registration;
    this one is schema-per-call-site — the remaining §2.10 extension
    point.

    Scale posture is the same as every Python UDTF here: row
    generation crosses the Python boundary (the deliberate slow path,
    capped to doc_id<25); the analyze call itself runs ONCE on the
    driver at planning.  The oracle derives the identical table with
    declarative list indexing (out-of-range → NULL matches the
    kernel's padding)."""
    spark.udtf.register("word_columns", F.udtf(_WordColumns))
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.w0, t.w1, t.w2
        FROM documents d, LATERAL word_columns(d.text, 3) t
        WHERE d.doc_id < 25
        """
    )


@query(
    "cogrouped_asof_pandas",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_event_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_event_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.user_id, p.purchase_event_id, c.click_event_id,
             CAST(epoch_us(p.pts) - epoch_us(c.cts) AS BIGINT) AS lag_us,
             ROW_NUMBER() OVER (
               PARTITION BY p.purchase_event_id
               ORDER BY c.cts DESC, c.click_event_id DESC) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.cts <= p.pts
    )
    SELECT user_id, purchase_event_id, click_event_id, lag_us
    FROM j WHERE rn = 1
    ORDER BY purchase_event_id
    """,
    covers=["UDF-cogroup", "J-extended"],
)
def cogrouped_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fifth Spark extension point: ``cogroup().applyInPandas`` —
    two keyed frames delivered to one Python function as aligned
    pandas groups.  Demonstrated on the classic cogroup workload,
    pandas ``merge_asof``: for every purchase, the latest click at or
    before it by the same user (the Arrow-island twin of the pure-
    Catalyst `asof_latest_order_per_event`; you reach for THIS form
    when the per-group logic outgrows SQL, e.g. real merge_asof
    tolerances or model scoring).

    Determinism: ids and integer microsecond lags only — no floats;
    ties at equal click ts resolve to the highest click_event_id
    (clicks sorted by (ts, id), merge_asof keeps the LAST match —
    mirrored by the oracle's DESC/DESC ROW_NUMBER).

    Scale: cogroup shuffles each side ONCE on user_id (two Exchanges,
    same as any join) and streams one user's two groups at a time
    through Arrow — per-task memory bounds by the largest single key,
    never the corpus; inside the island merge_asof is O(n log n) per
    user.  Purchases with no prior click survive with NULLs (left
    semantics)."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), F.col("ts").alias("pts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), F.col("ts").alias("cts")
    )

    def asof(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if p.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_event_id", "click_event_id", "lag_us"]
            )
        p = p.sort_values(["pts", "purchase_event_id"]).reset_index(drop=True)
        c = c.sort_values(["cts", "click_event_id"]).reset_index(drop=True)
        if c.empty:
            out = p[["user_id", "purchase_event_id"]].copy()
            out["click_event_id"] = pd.array([None] * len(p), dtype="Int64")
            out["lag_us"] = pd.array([None] * len(p), dtype="Int64")
            return out
        m = pd.merge_asof(
            p, c[["cts", "click_event_id"]], left_on="pts", right_on="cts",
            direction="backward", allow_exact_matches=True,
        )
        # unit-safe: normalize the timedelta to microseconds regardless
        # of whether Arrow delivered ns- or us-precision timestamps
        lag = (m["pts"] - m["cts"]).to_numpy().astype("timedelta64[us]").astype("int64")
        m["lag_us"] = pd.array(lag, dtype="Int64")
        m["click_event_id"] = m["click_event_id"].astype("Int64")
        m.loc[m["cts"].isna(), ["click_event_id", "lag_us"]] = None
        return m[["user_id", "purchase_event_id", "click_event_id", "lag_us"]]

    out = purchases.groupBy("user_id").cogroup(clicks.groupBy("user_id")).applyInPandas(
        asof,
        schema="user_id bigint, purchase_event_id bigint, "
        "click_event_id bigint, lag_us bigint",
    )
    return out.orderBy("purchase_event_id")


@query(
    "arrow_token_totals",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(MAX(length(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    covers=["UDF-arrow", "A-extended"],
)
def arrow_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sixth extension point: ``mapInArrow`` — the island BELOW
    mapInPandas, operating on raw ``pyarrow.RecordBatch``es with zero
    pandas materialization (no index, no object boxing): the right
    tier when the kernel is itself vectorized Arrow compute (here
    ``split_pattern`` + ``list_value_length``, both C++).  Token
    counts per doc come out of the island; the per-source rollup
    stays JVM-side so the aggregate is map-side-combined as usual.

    Semantics pinned to the SQL oracle's ``string_split(text, ' ')``:
    split on SINGLE spaces, empties preserved — Arrow's
    ``split_pattern`` matches exactly (unlike
    ``ascii_split_whitespace``, which collapses runs).

    Scale: one Python island, per-batch C++ work, no shuffle inside;
    Arrow-to-Arrow means even the Python-side copy of mapInPandas is
    avoided — the cheapest possible custom stage when you don't need
    pandas."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def count_tokens(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = pc.list_value_length(
                pc.split_pattern(b.column("text"), pattern=" ")
            ).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [b.column("source"), n], names=["source", "n_tokens"]
            )

    toks = docs.mapInArrow(count_tokens, schema="source string, n_tokens bigint")
    return (
        toks.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("source")
    )
