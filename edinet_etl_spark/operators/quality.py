"""Data-quality surface: single-pass column profiling and declarative
integrity checks — the validation gate a production pipeline runs
before promoting a batch (the deequ/Great-Expectations shape, rebuilt
as plain Spark aggregates so it scales like any other query).

Reference analogue: the engine's empty-input guard and cast-failure
skip (/root/reference/src/load.py:8-31, src/transform.py:171-194) are
point data-quality rules; this module generalizes them to a rule
TABLE with measured violation counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.prefix import range_prefix_sums
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize, scratch_dir, staged_dir
from edinet_etl_spark.tables import load, parallel_scan

# orders columns profiled: (name, cast-for-display)
_PROFILE_COLS = [
    ("o_orderkey", "BIGINT"),
    ("o_custkey", "BIGINT"),
    ("o_orderstatus", "STRING"),
    ("o_totalprice", "DECIMAL(18,2)"),
    ("o_orderdate", "DATE"),
    ("o_orderpriority", "STRING"),
]


@query(
    "table_profile_orders",
    oracle="""
    {}
    """.format(
        "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(CAST(MIN({c}) AS {t}) AS STRING) AS min_value,
           CAST(CAST(MAX({c}) AS {t}) AS STRING) AS max_value
    FROM orders"""
            for c, t in _PROFILE_COLS
        )
    ),
    covers=["A-extended", "A3"],
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of ``orders`` (one row per column: row/
    null/distinct counts, min/max rendered through a declared display
    type so both engines format identically) — the data card a batch
    publishes before consumers trust it.

    Plan: ONE scan; all per-column aggregates (incl. the multi-column
    COUNT DISTINCT, which Catalyst plans via Expand) share it, then a
    stack() unpivots the single wide row — no per-column rescans, no
    driver loop.  At 100 TB profile cost equals one pass over the
    table, the floor for exact distinct counts (`approx_distinct_parts`
    is the sketch alternative when exactness isn't required)."""
    orders = parallel_scan(spark, sf_dir, "orders")
    aggs = []
    for c, t in _PROFILE_COLS:
        aggs += [
            F.count("*").cast("bigint").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            F.min(c).cast(t.lower()).cast("string").alias(f"{c}__min"),
            F.max(c).cast(t.lower()).cast("string").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c, _ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    )


@query(
    "data_quality_checks",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations,
           COUNT(*) = 0 AS passed
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_partkey_fk',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'totalprice_nonnegative',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders WHERE o_totalprice < 0
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders
    WHERE o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '1998-12-31'
    """,
    covers=["J4", "A3", "S8"],
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative integrity gate: referential checks (every order has
    a customer, every lineitem an order and a part) plus domain rules
    (non-negative totals, order dates inside the business range), one
    row per rule with its measured violation count — promote the batch
    only if every `passed` is true.

    Plan: each FK rule is a LEFT ANTI join — no forced broadcast:
    customer (150 k×SF) and part (200 k×SF) both GROW with scale, so
    the strategy is AQE's call (broadcast at small SF, shuffle join
    once the dim outgrows the threshold; the fact-fact orderkey check
    always shuffles on the join key), domain rules are pushed-down
    scans;
    the rule rows union at the end.  Violations COUNT, never collect —
    the gate reads 5 rows however big the batch is."""
    orders = parallel_scan(spark, sf_dir, "orders")
    lineitem = parallel_scan(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")

    def rule(name: str, violations: DataFrame) -> DataFrame:
        return violations.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("n_violations"),
            (F.count("*") == 0).alias("passed"),
        )

    checks = [
        rule(
            "orders_custkey_fk",
            orders.join(
                customer,
                orders["o_custkey"] == customer["c_custkey"],
                "left_anti",
            ),
        ),
        rule(
            "lineitem_orderkey_fk",
            lineitem.join(
                orders, lineitem["l_orderkey"] == orders["o_orderkey"], "left_anti"
            ),
        ),
        rule(
            "lineitem_partkey_fk",
            lineitem.join(
                part,
                lineitem["l_partkey"] == part["p_partkey"],
                "left_anti",
            ),
        ),
        rule("totalprice_nonnegative", orders.filter(F.col("o_totalprice") < 0)),
        rule(
            "orderdate_in_range",
            orders.filter(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@query(
    "observed_scan_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS BIGINT)
             AS n_large,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS VARCHAR)
                AS DOUBLE) AS total_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    """,
    covers=["A3", "A-extended", "X-observability"],
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``Observation``/``df.observe`` API — Spark's production
    monitoring hook: metrics are accumulated ON the running job (task-
    side, merged by the driver), so a pipeline gets its row counts /
    quality gauges for free with the action it already runs, instead
    of paying a second scan.  Here a pass over orders is observed for
    row count, a predicate count, an exact-decimal price total, and a
    max; the observed values are returned AS the result —
    and must equal the plain one-shot aggregate the oracle runs.

    Numeric discipline survives the API: the observed sum is
    decimal-accumulated (associative, partitioning-independent) and
    converted via the string hop only after retrieval, so even the
    metrics channel is bit-exact.  At 100 TB this is how the engine
    self-reports per-job data-quality gauges to a metrics store with
    ZERO extra passes."""
    from pyspark.sql import Observation

    od = load(spark, sf_dir, "orders")
    obs = Observation("scan_metrics")
    observed = od.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_totalprice") > 100000.0, 1).otherwise(0)
        ).cast("bigint").alias("n_large"),
        F.sum(F.col("o_totalprice").cast("decimal(18,8)"))
        .cast("string")
        .alias("total_dec"),
        F.max("o_totalprice").alias("max_price"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the real action
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_large"],
                float(m["total_dec"]),
                m["max_price"],
            )
        ],
        "n_rows bigint, n_large bigint, total_price double, max_price double",
    )


@query(
    "csv_corrupt_records_audit",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_totalprice,
             (o_orderkey % 10 = 3) AS is_corrupt
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE NOT is_corrupt) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (WHERE is_corrupt) AS BIGINT) AS n_corrupt,
           CAST(CAST(SUM(CASE WHEN NOT is_corrupt
                              THEN CAST(o_totalprice AS DECIMAL(18,8)) END)
                     AS VARCHAR) AS DOUBLE) AS good_total
    FROM src
    """,
    covers=["S-extended", "P10", "A3"],
)
def csv_corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input triage on a text lake: a CSV feed where ~10% of
    rows are corrupted (non-numeric price field — orderkeys ≡ 3 mod
    10) is read in PERMISSIVE mode with ``columnNameOfCorruptRecord``,
    so bad rows land in the corrupt-record column instead of killing
    the job or being silently dropped — the ingest-side counterpart of
    the P10 ``try_cast`` row-skip, at the PARSER level.  The audit
    reports total/good/corrupt counts and the exact good-row sum.

    The corrupt feed is constructed deterministically from orders (the
    oracle recomputes the same partition of rows relationally), so the
    parser path itself — schema coercion failure ⇒ corrupt column ⇒
    quarantine accounting — is what the hash-compare proves.

    At 100 TB: PERMISSIVE + corrupt-column is the only mode that both
    survives bad bytes AND preserves them for replay (FAILFAST kills
    the job; DROPMALFORMED silently loses data — the worst option for
    a training corpus); the quarantined rows write to a dead-letter
    path for reprocessing."""
    import shutil

    from pyspark.sql import types as T

    od = load(spark, sf_dir, "orders")
    base = scratch_dir(spark, sf_dir, "corrupt")
    shutil.rmtree(base, ignore_errors=True)
    # price field becomes non-numeric garbage for orderkeys ≡ 3 (mod 10)
    feed = od.select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.when(
            F.col("o_orderkey") % 10 == 3, F.concat(F.lit("BAD_"), F.col("o_totalprice"))
        )
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("p"),
    )
    feed.write.mode("overwrite").csv(base)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("o_totalprice").cast("decimal(18,8)")))
        .cast("string")
        .cast("double")
        .alias("good_total"),
    )


@query(
    "corpus_drift_report",
    oracle="""
    WITH v1 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         v2 AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         t1 AS (SELECT DISTINCT word FROM (
                  SELECT unnest(string_split(text, ' ')) AS word FROM v1)),
         t2 AS (SELECT DISTINCT word FROM (
                  SELECT unnest(string_split(text, ' ')) AS word FROM v2)),
         c1 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
                  SELECT unnest(string_split(text, ' ')) AS word FROM v1)
                GROUP BY word),
         c2 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
                  SELECT unnest(string_split(text, ' ')) AS word FROM v2)
                GROUP BY word),
         n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
         n2 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c2),
         l1 AS (
           SELECT CAST(CAST(SUM(CAST(ABS(
                    CAST(COALESCE(c1.c, 0) AS DOUBLE) / n1.n
                    - CAST(COALESCE(c2.c, 0) AS DOUBLE) / n2.n
                  ) AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS v
           FROM c1 FULL OUTER JOIN c2 ON c1.word = c2.word, n1, n2
         )
    SELECT 'n_docs' AS metric,
           CAST((SELECT COUNT(*) FROM v1) AS DOUBLE) AS v1_value,
           CAST((SELECT COUNT(*) FROM v2) AS DOUBLE) AS v2_value
    UNION ALL
    SELECT 'total_chars',
           CAST(CAST((SELECT SUM(CAST(n_chars AS DECIMAL(18,0))) FROM v1) AS VARCHAR) AS DOUBLE),
           CAST(CAST((SELECT SUM(CAST(n_chars AS DECIMAL(18,0))) FROM v2) AS VARCHAR) AS DOUBLE)
    UNION ALL
    SELECT 'vocab_size',
           CAST((SELECT COUNT(*) FROM t1) AS DOUBLE),
           CAST((SELECT COUNT(*) FROM t2) AS DOUBLE)
    UNION ALL
    SELECT 'vocab_jaccard',
           CAST((SELECT COUNT(*) FROM t1 JOIN t2 USING (word)) AS DOUBLE)
             / (SELECT COUNT(*) FROM (SELECT word FROM t1 UNION SELECT word FROM t2)),
           CAST((SELECT COUNT(*) FROM t1 JOIN t2 USING (word)) AS DOUBLE)
             / (SELECT COUNT(*) FROM (SELECT word FROM t1 UNION SELECT word FROM t2))
    UNION ALL
    SELECT 'term_share_l1', (SELECT v FROM l1), (SELECT v FROM l1)
    """,
    covers=["LLM-quality", "A-extended", "X-observability"],
)
def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data DRIFT monitoring between two corpus versions (the
    refresh-gate report a 100 TB pipeline publishes before swapping a
    snapshot): doc/char volume, vocabulary size, vocabulary Jaccard,
    and the L1 distance between the two versions' term-frequency share
    distributions — the log-free drift statistic (total-variation ×2)
    that flags a source mix shift, a scraper change, or an encoding
    bug without any model.  Versions here are the deterministic
    even/odd doc_id halves so the oracle replays the split exactly.

    Numeric discipline: shares are single correctly-rounded divisions,
    per-term |Δshare| is exact IEEE on identical inputs, and the sum
    crosses the wire through the decimal dsum grid — bit-identical on
    any partitioning.  Plan: one word explode per side feeding
    map-side-combined term counts; the full-outer term join is
    materialized ONCE (`materialize`) and every vocabulary metric
    (sizes, intersection, union, totals) comes out of a single
    combined aggregate over it, so the whole report is the explode
    job + two aggregate jobs + one doc-stats scan — not six
    re-executions of the corpus scan."""
    docs = load(spark, sf_dir, "documents")
    side = (F.col("doc_id") % 2 == 0)

    # One pass over documents for both versions' volume stats.
    vol = docs.agg(
        F.count(F.when(side, 1)).alias("nd1"),
        F.count(F.when(~side, 1)).alias("nd2"),
        F.sum(F.when(side, F.col("n_chars")).cast("decimal(18,0)"))
        .cast("string").alias("tc1"),
        F.sum(F.when(~side, F.col("n_chars")).cast("decimal(18,0)"))
        .cast("string").alias("tc2"),
    ).collect()[0]

    def words(df):
        return df.select(F.explode(F.split(F.col("text"), " ")).alias("word"))

    c1 = words(docs.filter(side)).groupBy("word").agg(
        F.count("*").cast("bigint").alias("c1"))
    c2 = words(docs.filter(~side)).groupBy("word").agg(
        F.count("*").cast("bigint").alias("c2"))
    # Materialize the vocabulary-sized join once; both downstream
    # aggregates read this (tiny) checkpoint, never the corpus again.
    joined = materialize(c1.join(c2, "word", "full_outer"))

    g = joined.agg(
        F.count(F.col("c1")).alias("vs1"),
        F.count(F.col("c2")).alias("vs2"),
        F.count(F.when(F.col("c1").isNotNull() & F.col("c2").isNotNull(), 1))
        .alias("inter"),
        F.count("*").alias("union_n"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    ).collect()[0]
    jac = float(g["inter"]) / g["union_n"]

    share_delta = F.abs(
        F.coalesce(F.col("c1"), F.lit(0)).cast("double")
        / F.lit(g["n1"]).cast("bigint")
        - F.coalesce(F.col("c2"), F.lit(0)).cast("double")
        / F.lit(g["n2"]).cast("bigint")
    )
    l1v = joined.agg(
        F.sum(share_delta.cast("decimal(18,8)"))
        .cast("string").cast("double").alias("v")
    ).collect()[0]["v"]
    rows = [
        ("n_docs", float(vol["nd1"]), float(vol["nd2"])),
        ("total_chars", float(vol["tc1"]), float(vol["tc2"])),
        ("vocab_size", float(g["vs1"]), float(g["vs2"])),
        ("vocab_jaccard", jac, jac),
        ("term_share_l1", l1v, l1v),
    ]
    return spark.createDataFrame(
        rows, "metric string, v1_value double, v2_value double"
    )


@query(
    "value_distribution_ks",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'purchase')
    ), per_val AS (
      SELECT value,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c2
      FROM ev GROUP BY value
    ), n AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM per_val
    ), cum AS (
      SELECT value,
             SUM(c1) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS k1,
             SUM(c2) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS k2
      FROM per_val
    ), diffs AS (
      SELECT value,
             ABS(CAST(k1 AS DOUBLE) / n.n1 - CAST(k2 AS DOUBLE) / n.n2) AS d
      FROM cum, n
    ), best AS (
      SELECT value AS ks_at_value, d AS ks_stat FROM diffs
      ORDER BY d DESC, value LIMIT 1
    )
    SELECT n.n1, n.n2, b.ks_stat, b.ks_at_value,
           1.358 * sqrt(CAST(n.n1 + n.n2 AS DOUBLE) / (n.n1 * n.n2))
             AS ks_critical_05,
           b.ks_stat > 1.358 * sqrt(CAST(n.n1 + n.n2 AS DOUBLE) / (n.n1 * n.n2))
             AS drifted
    FROM n, best b
    """,
    covers=["A-extended", "W-extended", "X-observability"],
)
def value_distribution_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between event-value
    distributions (click vs purchase): the EXACT sup-norm gap between
    the two empirical CDFs, the location where it occurs, the α=0.05
    critical value, and the drift verdict — the nonparametric
    distribution-shift gate a feature pipeline runs between snapshots
    (no binning error, no distributional assumption, no logs).

    Exactness: cumulative counts are integers; each CDF value is one
    correctly-rounded division; the gap is IEEE subtraction of
    identical doubles — the statistic compares bit-exact, and the
    argmax is totally ordered (gap DESC, value ASC).

    Plan honesty: the exact KS needs a TOTAL ORDER over distinct
    values, and the distinct-value grid of a continuous metric grows
    ~linearly in SF (3,305 at sf0.01, 8.2× the sf0.001 count — the
    round-10 lint catch), so BOTH cumulative CDFs ride ONE
    range-partitioned two-level prefix scan
    (`prefix.range_prefix_sums`): the only serial step is the O(P)
    partition-offset window.  At 100 TB the production form runs the
    same sup-gap over the mergeable binned histogram
    (`binned_quantile_sketch`'s bins), trading ≤ bin-width error for
    constant-size state."""
    ev = parallel_scan(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    per_val = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    kbase = range_prefix_sums(
        per_val, ["value"], {"k1": F.col("c1"), "k2": F.col("c2")}
    )
    # totals off the helper's checkpointed frame, not a second
    # evaluation of the events scan + collapse
    n = kbase.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    cum = kbase.select("value", "k1", "k2")
    diffs = cum.crossJoin(F.broadcast(n)).select(
        "value",
        "n1",
        "n2",
        F.abs(
            F.col("k1").cast("double") / F.col("n1")
            - F.col("k2").cast("double") / F.col("n2")
        ).alias("d"),
    )
    best = diffs.orderBy(F.desc("d"), "value").limit(1)
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double") / (F.col("n1") * F.col("n2"))
    )
    return best.select(
        "n1",
        "n2",
        F.col("d").alias("ks_stat"),
        F.col("value").alias("ks_at_value"),
        crit.alias("ks_critical_05"),
        (F.col("d") > crit).alias("drifted"),
    )


@query(
    "dynamic_partition_pruned_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS event_date
      FROM events
      WHERE user_id = 7 AND event_type = 'purchase'
    )
    SELECT e.event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e
    JOIN dim ON e.event_date = dim.event_date
    GROUP BY e.event_date
    """,
    covers=["S-extended", "J1", "X-observability"],
)
def dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the lake-scale join mechanism where
    the partition filter isn't known until runtime: the events fact is
    laid out date-partitioned on disk, the dim side is a small derived
    set of dates (here: days user 7 purchased), and Spark injects the
    dim's date values as a runtime subquery filter INTO the fact scan,
    so only the matching date directories are listed and read — at
    100 TB this is the difference between scanning ~10 partitions and
    scanning three years of history, with no literal filter anywhere
    in the query text.

    The DPP subquery is asserted in `test_dpp_plan_and_files` (plan
    contains `dynamicpruning`; files actually read < partitions on
    disk).  The oracle replays the same join relationally — DPP is
    pure execution strategy, so results match bit-exact."""
    from edinet_etl_spark import layout

    lake = staged_dir(
        spark,
        sf_dir,
        "dpplake",
        lambda out: layout.write_date_partitioned_events(spark, sf_dir, out),
    )
    fact = spark.read.parquet(lake)
    dim = (
        load(spark, sf_dir, "events")
        .filter((F.col("user_id") == 7) & (F.col("event_type") == "purchase"))
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,8)"))
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "value_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
               AS hv
      FROM events GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    ), stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(CAST(SUM(CAST(hv AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean_hv
      FROM hourly GROUP BY event_type
    ), dev AS (
      SELECT h.event_type, h.h, s.mean_hv,
             CAST(CAST(SUM(CAST(h.hv AS DECIMAL(18,8))) OVER (
               PARTITION BY h.event_type ORDER BY h.h
               ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS run_sum,
             ROW_NUMBER() OVER (
               PARTITION BY h.event_type ORDER BY h.h) AS t
      FROM hourly h JOIN stats s ON s.event_type = h.event_type
    ), scored AS (
      SELECT event_type, h,
             ABS(run_sum - t * mean_hv) AS abs_cusum
      FROM dev
    )
    SELECT s.event_type, s.n_hours, b.abs_cusum AS max_cusum,
           b.h AS changepoint_hour
    FROM stats s JOIN (
      SELECT event_type, h, abs_cusum FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY event_type
                 ORDER BY abs_cusum DESC, h) AS rn
        FROM scored) WHERE rn = 1
    ) b ON b.event_type = s.event_type
    """,
    covers=["A-extended", "W-extended", "X-observability"],
)
def value_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event-type series: cumulative
    sum of deviations from the series mean over hourly totals; the
    hour where |CUSUM| peaks is the maximum-likelihood single change
    point (where the level shifted), and the peak magnitude is the
    shift evidence — the classic model-free monitoring statistic next
    to the seasonal-baseline anomalies and the KS drift gate.

    Exactness: CUSUM_t is computed as run_sum_t − t·mean (never by
    summing per-row deviations — an arbitrary double cast to decimal
    can round a tie midpoint differently per engine): the running
    hourly sum is decimal-exact, t·mean is one correctly-rounded
    product, and the subtraction/|·| act on identically-computed
    doubles — bit-identical across engines and partitionings.

    Plan: one (type, hour) aggregate, a broadcast of per-type means,
    one per-type ordered window (series length = hours — thousands,
    not rows), one argmax."""
    from pyspark.sql import Window

    ev = parallel_scan(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,8)"))
        .cast("string")
        .cast("double")
        .alias("hv")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        (
            F.sum(F.col("hv").cast("decimal(18,8)")).cast("string").cast("double")
            / F.count("*")
        ).alias("mean_hv"),
    )
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_t = Window.partitionBy("event_type").orderBy("h")
    dev = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        "n_hours",
        "mean_hv",
        F.sum(F.col("hv").cast("decimal(18,8)"))
        .over(w)
        .cast("string")
        .cast("double")
        .alias("run_sum"),
        F.row_number().over(w_t).alias("t"),
    )
    scored = dev.select(
        "event_type",
        "h",
        "n_hours",
        F.abs(F.col("run_sum") - F.col("t") * F.col("mean_hv")).alias("abs_cusum"),
    )
    w_max = Window.partitionBy("event_type").orderBy(F.desc("abs_cusum"), "h")
    return (
        scored.withColumn("rn", F.row_number().over(w_max))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_hours",
            F.col("abs_cusum").alias("max_cusum"),
            F.col("h").alias("changepoint_hour"),
        )
    )


_KS_BIN_W = 2.0  # fixed bin width over the ~[0, 500] value domain
_KS_BINS = 256  # constant state: bins clamp into [0, _KS_BINS-1]


@query(
    "value_distribution_ks_binned",
    oracle=f"""
    WITH ev AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / {_KS_BIN_W}) AS BIGINT), 0),
                   {_KS_BINS - 1}) AS bin,
             event_type
      FROM events WHERE event_type IN ('click', 'purchase')
    ), per_bin AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS c2
      FROM ev GROUP BY bin
    ), n AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(MAX(GREATEST(c1, c2)) AS BIGINT) AS max_bin_count
      FROM per_bin
    ), cum AS (
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS k1,
             SUM(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS k2
      FROM per_bin
    ), diffs AS (
      SELECT bin,
             ABS(CAST(k1 AS DOUBLE) / n.n1 - CAST(k2 AS DOUBLE) / n.n2) AS d
      FROM cum, n
    ), best AS (
      SELECT bin AS ks_at_bin, d AS ks_stat_binned FROM diffs
      ORDER BY d DESC, bin LIMIT 1
    )
    SELECT n.n1, n.n2, CAST(b.ks_at_bin AS BIGINT) AS ks_at_bin,
           b.ks_stat_binned,
           CAST(n.max_bin_count AS DOUBLE) / n.n1 AS bin_error_bound_1,
           b.ks_stat_binned
             > 1.358 * sqrt(CAST(n.n1 + n.n2 AS DOUBLE) / (n.n1 * n.n2))
             AS drifted
    FROM n, best b
    """,
    covers=["A-extended", "M6-sketch", "X-observability"],
)
def value_distribution_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `value_distribution_ks`: the same two-sample
    sup-CDF-gap drift gate evaluated at FIXED bin edges instead of
    every distinct value.  Per-partition state is one 256-cell (_KS_BINS)
    count pair (map-side combined, mergeable by cell addition — the
    same histogram-sketch contract as `binned_quantile_sketch`), and
    the cumulative window runs over ≤256 rows regardless of
    input size — vs the exact form's total order over ALL distinct
    values.  The price is bounded and REPORTED: the binned statistic
    underestimates the true KS by at most the largest single-bin mass
    (`bin_error_bound_1`), so `drifted=true` is always trustworthy and
    a near-threshold miss tells you to rerun exact on the sample.

    Determinism: bin = clamp(floor(value / width)) — one correctly-
    rounded division, exact floor/clamp; every downstream ratio is one
    int/int division, so the statistic hash-compares bit-exact."""
    from pyspark.sql import Window

    ev = parallel_scan(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    bin_c = F.least(
        F.greatest(
            F.floor(F.col("value") / _KS_BIN_W).cast("bigint"), F.lit(0)
        ),
        F.lit(_KS_BINS - 1),
    )
    per_bin = ev.select(bin_c.alias("bin"), "event_type").groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    n = per_bin.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.max(F.greatest("c1", "c2")).cast("bigint").alias("max_bin_count"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_bin.select(
        "bin", F.sum("c1").over(w).alias("k1"), F.sum("c2").over(w).alias("k2")
    )
    best = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "bin",
            "n1",
            "n2",
            "max_bin_count",
            F.abs(
                F.col("k1").cast("double") / F.col("n1")
                - F.col("k2").cast("double") / F.col("n2")
            ).alias("d"),
        )
        .orderBy(F.desc("d"), "bin")
        .limit(1)
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double") / (F.col("n1") * F.col("n2"))
    )
    return best.select(
        "n1",
        "n2",
        F.col("bin").alias("ks_at_bin"),
        F.col("d").alias("ks_stat_binned"),
        (F.col("max_bin_count").cast("double") / F.col("n1")).alias(
            "bin_error_bound_1"
        ),
        (F.col("d") > crit).alias("drifted"),
    )


# Candidate functional dependencies audited by fd_violation_audit:
# (table, determinant, dependent).  Mix chosen to exercise both
# outcomes on the fixtures: c_name is a key (FD holds); the others are
# plausible-but-false dependencies with real g3 error mass.
_FD_CANDIDATES = [
    ("customer", "c_name", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("events", "user_id", "event_type"),
]


@query(
    "fd_violation_audit",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{t}' AS rel, '{a} -> {b}' AS fd,
               CAST(SUM(total) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(total - maxc) AS BIGINT) AS g3_violations,
               CAST(CASE WHEN SUM(total - maxc) = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS holds
        FROM (
          SELECT {a}, SUM(cnt) AS total, MAX(cnt) AS maxc
          FROM (SELECT {a}, {b}, COUNT(*) AS cnt FROM {t} GROUP BY {a}, {b})
          GROUP BY {a}
        )"""
        for t, a, b in _FD_CANDIDATES
    )
    + " ORDER BY rel, fd",
    covers=["Q-profile", "A-extended", "U1"],
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-functional-dependency audit (the TANE/FDEP g3 error
    measure, Huhtala et al., Comput. J. 1999): for each candidate FD
    A -> B, g3 = the minimum number of rows to delete before the
    dependency holds = sum over A-groups of (group size − the
    plurality B-value's count).  This is the profiling primitive that
    tells a schema-inference / data-contract layer which "obvious"
    keys actually hold on the real data before they're enforced.

    Scale: each FD costs two map-side-combined hash aggregates —
    (A,B)-counts, then an A-rollup — and emits ONE summary row; no
    joins, no windows, no row explosion.  Distinct-group cardinality
    (not table size) bounds the shuffle, so the audit rides the same
    100 TB scan budget as any count: adding candidate FDs on the same
    table shares the scan under Spark's cache or a multi-agg rewrite
    when it matters."""
    out = None
    for t, a, b in _FD_CANDIDATES:
        pairs = (
            load(spark, sf_dir, t)
            .groupBy(a, b)
            .agg(F.count("*").alias("cnt"))
        )
        grp = pairs.groupBy(a).agg(
            F.sum("cnt").alias("total"), F.max("cnt").alias("maxc")
        )
        viol = F.sum(F.col("total") - F.col("maxc"))
        one = grp.agg(
            F.lit(t).alias("rel"),
            F.lit(f"{a} -> {b}").alias("fd"),
            F.sum("total").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_groups"),
            viol.cast("bigint").alias("g3_violations"),
            F.when(viol == 0, 1).otherwise(0).cast("bigint").alias("holds"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("rel", "fd")


@query(
    "eventmix_chi2_drift",
    oracle="""
    WITH lo AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    counts AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) < d0 + 7 THEN 'week1' ELSE 'rest' END
               AS period,
             COUNT(*) AS o
      FROM events CROSS JOIN lo
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT event_type, period, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o) OVER (PARTITION BY period) AS col_tot,
             SUM(o) OVER () AS grand
      FROM counts
    ),
    cells AS (
      SELECT event_type, period, o,
             CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE) AS e
      FROM margins
    )
    SELECT event_type, period, CAST(o AS BIGINT) AS observed, e AS expected,
           ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e
             AS chi2_contrib
    FROM cells
    ORDER BY event_type, period
    """,
    covers=["Q-profile", "W-extended", "A-extended"],
)
def eventmix_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared drift cells for the event-type mix, first
    calendar week vs the rest — the CATEGORICAL-column drift test
    beside the numeric KS pair (`value_distribution_ks`,
    `value_distribution_ks_binned`): per (type, period) cell the
    observed count, the independence-model expected count
    e = row_tot*col_tot/grand, and the chi^2 contribution (o-e)^2/e.
    The analyst sums contributions against the (types-1) dof critical
    value; emitting cells (not just the statistic) shows WHICH type
    drifted — the actionable half of the report.

    Determinism: counts are exact int64; e and the contribution are
    fixed short chains of correctly-rounded double ops on integers —
    no accumulation, no libm.  Scale: one map-side-combined count per
    (type, period) — the contingency table is |types|x2 rows; margins
    are windows OVER THAT TABLE, not the corpus; the min-date scalar
    broadcasts. Nothing grows with the event volume but the first
    aggregate's scan."""
    ev = load(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    counts = (
        ev.crossJoin(F.broadcast(lo))
        .groupBy(
            "event_type",
            F.when(
                F.col("ts").cast("date") < F.date_add(F.col("d0"), 7), "week1"
            )
            .otherwise("rest")
            .alias("period"),
        )
        .agg(F.count("*").alias("o"))
    )
    margins = counts.select(
        "event_type",
        "period",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("period")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("grand"),
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("grand").cast(
        "double"
    )
    o_d = F.col("o").cast("double")
    return (
        margins.select(
            "event_type",
            "period",
            F.col("o").cast("bigint").alias("observed"),
            e.alias("expected"),
            (((o_d - e) * (o_d - e)) / e).alias("chi2_contrib"),
        )
        .orderBy("event_type", "period")
    )


@query(
    "table_checksum_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS VARCHAR) || '|' ||
               o_orderpriority), 1, 13))::BIGINT AS DECIMAL(38,0)))
               AS VARCHAR) AS checksum
      FROM orders
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(('0x' || substr(md5(
               CAST(c_custkey AS VARCHAR) || '|' ||
               c_name || '|' ||
               CAST(c_nationkey AS VARCHAR) || '|' ||
               c_mktsegment), 1, 13))::BIGINT AS DECIMAL(38,0)))
               AS VARCHAR) AS checksum
      FROM customer
    ),
    l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(l_partkey AS VARCHAR) || '|' ||
               CAST(l_suppkey AS VARCHAR) || '|' ||
               l_returnflag || '|' ||
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) AS VARCHAR)
               ), 1, 13))::BIGINT AS DECIMAL(38,0))) AS VARCHAR) AS checksum
      FROM lineitem
    )
    SELECT * FROM (
      SELECT 'customer' AS table_name, n_rows, checksum FROM c
      UNION ALL
      SELECT 'lineitem' AS table_name, n_rows, checksum FROM l
      UNION ALL
      SELECT 'orders' AS table_name, n_rows, checksum FROM o
    ) ORDER BY table_name
    """,
    covers=["Q-extended", "U1"],
)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum per table — the replication /
    migration verifier: after copying 100 TB between clusters or
    engines, compare one row per table instead of the data.  Checksum =
    SUM over rows of a 52-bit md5 row digest, accumulated in
    DECIMAL(38,0) (exact, associative, order-independent — immune to
    partitioning, shuffle order, and engine), surfaced as a string.

    Columns folded into the digest are the engine-stable ones
    (integers, strings, dates via epoch-day ints); float columns are
    excluded by design — their text forms differ across engines, which
    is exactly why the decimal-sum discipline exists for aggregates.

    Scale: one map-side-combined aggregate per table, zero joins, zero
    windows; the three one-row legs union.  10^15 max per row digest x
    10^23 rows of headroom in DECIMAL(38,0) — no overflow at any SF."""

    def leg(name: str, df: DataFrame, cols: list) -> DataFrame:
        digest = F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 13), 16, 10)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(digest.cast("decimal(38,0)"))
            .cast("string")
            .alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    epoch = F.lit("1970-01-01").cast("date")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    legs = [
        leg(
            "customer",
            c,
            [
                F.col("c_custkey").cast("string"),
                F.col("c_name"),
                F.col("c_nationkey").cast("string"),
                F.col("c_mktsegment"),
            ],
        ),
        leg(
            "lineitem",
            li,
            [
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
                F.col("l_suppkey").cast("string"),
                F.col("l_returnflag"),
                F.datediff(F.col("l_shipdate").cast("date"), epoch).cast("string"),
            ],
        ),
        leg(
            "orders",
            o,
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("string"),
                F.col("o_orderpriority"),
            ],
        ),
    ]
    out = legs[0]
    for extra in legs[1:]:
        out = out.unionAll(extra)
    return out.orderBy("table_name")


@query(
    "dictionary_encoding_stats",
    oracle="""
    WITH legs AS (
      SELECT 'c_mktsegment' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct,
             CAST(SUM(length(c_mktsegment)) AS BIGINT) AS raw_bytes
      FROM customer
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
             CAST(SUM(length(o_orderpriority)) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
             CAST(SUM(length(o_orderstatus)) AS BIGINT)
      FROM orders
    )
    SELECT column_name, n_rows, n_distinct, raw_bytes,
           CAST(raw_bytes AS DOUBLE)
             / CAST(4 * n_rows + raw_bytes * n_distinct / n_rows AS DOUBLE)
             AS est_dict_ratio
    FROM legs
    ORDER BY column_name
    """,
    covers=["Q-extended", "SC-layout"],
)
def dictionary_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding advisor — the storage-layout question every
    columnar lake asks per string column: would a dictionary beat raw
    encoding?  Per candidate column: rows, exact distinct count, raw
    byte mass, and the estimated compression ratio raw /
    (4·rows + avg_len·distinct) — 4-byte codes plus one dictionary
    page (the parquet dictionary-page cost model, evaluated in exact
    integers with ONE final double division; the dict size term uses
    the integer mean length so both engines round identically).

    Scale: one map-side-combined aggregate per column (exact distinct
    rides the same agg via Expand), three one-row legs unioned — the
    same zero-join shape as `table_checksum_audit`; at 100 TB this is
    the profile a table-format OPTIMIZE advisor runs per column
    chunk."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")

    def leg(name: str, df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.sum(F.length(col)).cast("bigint").alias("raw_bytes"),
        ).select(F.lit(name).alias("column_name"), "n_rows", "n_distinct", "raw_bytes")

    legs = (
        leg("c_mktsegment", c, "c_mktsegment")
        .unionAll(leg("o_orderpriority", o, "o_orderpriority"))
        .unionAll(leg("o_orderstatus", o, "o_orderstatus"))
    )
    return legs.select(
        "column_name",
        "n_rows",
        "n_distinct",
        "raw_bytes",
        (
            F.col("raw_bytes").cast("double")
            / (
                4 * F.col("n_rows")
                + F.col("raw_bytes") * F.col("n_distinct") / F.col("n_rows")
            ).cast("double")
        ).alias("est_dict_ratio"),
    ).orderBy("column_name")


@query(
    "order_total_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
               AS computed_total
      FROM lineitem GROUP BY l_orderkey
    ),
    recon AS (
      SELECT o.o_orderstatus AS orderstatus,
             o.o_totalprice - li.computed_total AS diff
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN ABS(diff) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatched,
           MAX(ABS(diff)) AS max_abs_diff
    FROM recon
    GROUP BY orderstatus
    ORDER BY orderstatus
    """,
    covers=["Q-extended", "A-extended", "J-extended"],
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation — the audit every billing /
    ledger pipeline runs nightly: does each order's header total equal
    the sum of its lines under the pricing formula
    Σ extendedprice·(1−discount)·(1+tax)?  Per order status: orders
    checked, orders off by more than a cent, and the worst absolute
    discrepancy.  (On the synthetic fixture the header is independent
    of the lines, so the mismatch counts are large — the point is the
    exact, reproducible MEASUREMENT of the gap, which is precisely
    what a reconciliation report is.)

    Exactness: the per-order line sum is an exact decimal fold
    (3-factor product ≤6 dp on the 1e-8 grid) string-hopped once; the
    diff is ONE subtraction of engine-identical doubles; ABS/compare/
    MAX are all order-independent.

    Scale: one map-side-combined per-order aggregate, one equi-join on
    the order key (co-partitionable / bucketable), one status rollup —
    the canonical fact-vs-fact reconciliation shape at any SF."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(18,8)")
        )
        .cast("string")
        .cast("double")
        .alias("computed_total")
    )
    recon = o.join(per_order, o.o_orderkey == per_order.l_orderkey).select(
        F.col("o_orderstatus").alias("orderstatus"),
        (F.col("o_totalprice") - F.col("computed_total")).alias("diff"),
    )
    return (
        recon.groupBy("orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.when(F.abs("diff") > 0.01, 1).otherwise(0))
            .cast("bigint")
            .alias("n_mismatched"),
            F.max(F.abs("diff")).alias("max_abs_diff"),
        )
        .orderBy("orderstatus")
    )


# log10(1 + 1/d) for d = 1..9, written as literal doubles so both
# engines parse the identical constant (no libm call at query time).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829993",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.045757490560675115",
}

# CAST('…' AS DOUBLE): a bare decimal literal is parsed as DECIMAL by
# DuckDB and double-rounded on conversion; string→double is the
# correctly-rounded path in every engine (same trap numeric.py hops).
_BENFORD_SQL_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN CAST('{p}' AS DOUBLE)" for d, p in _BENFORD.items()
) + " END"


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS BIGINT) AS first_digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS observed
      FROM digits GROUP BY first_digit
    ),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM counts)
    SELECT c.first_digit, c.observed,
           {_BENFORD_SQL_CASE} AS benford_share,
           CAST(c.observed AS DOUBLE) / t.n
             - {_BENFORD_SQL_CASE} AS deviation
    FROM counts c, tot t
    ORDER BY c.first_digit
    """,
    covers=["Q-extended", "A-extended"],
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the fraud/synthetic-data
    screen auditors run on financial columns: the observed first-digit
    distribution of order totals beside the Benford expectation
    log10(1+1/d), one row per digit with the share deviation.
    (Uniform synthetic prices fail Benford hard — which is the audit
    telling the truth about this fixture; real ledger data hews close.)

    Exactness: digit extraction is integer/string work; the Benford
    shares are 9 LITERAL doubles (precomputed, identical text parsed
    by both engines — no runtime libm); each deviation is one division
    and one subtraction per digit ROW, never summed across digits —
    so no float accumulation exists.

    Scale: one map-side digit count (9 groups), a one-row total
    broadcast back — constant-size output at any SF."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    # explicit FLOOR: Spark's double->bigint cast truncates while
    # DuckDB's ROUNDS -- floor first so both engines agree on the digit
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("bigint")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    share = F.coalesce(
        *[
            F.when(F.col("first_digit") == d, F.lit(float(p)))
            for d, p in _BENFORD.items()
        ]
    )
    # total via a window over the 9-digit rows: a one-row aggregate
    # cross-joined back would recompute the counts subtree (two full
    # fact scans — the 10x probe measured 5.6x before this change);
    # the window sum is exact int64 over 9 rows on a single scan
    n = F.sum("observed").over(Window.partitionBy())
    return counts.select(
        "first_digit",
        "observed",
        share.alias("benford_share"),
        (F.col("observed").cast("double") / n - share).alias("deviation"),
    ).orderBy("first_digit")
