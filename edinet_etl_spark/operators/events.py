"""M5 event-time semantics over the ``events`` table (SURVEY.md §2.9).

The reference is strictly batch (its "stream" is a per-day polling
loop, ``src/extract.py:107-127``); this module supplies the event-time
operator family a streaming feed needs — tumbling/sliding/session
windows, event dedup, JSON props decode — in their batch form.  The
same expressions run under Structured Streaming (see
``edinet_etl_spark/streaming/jobs.py``); batch mode is what the DuckDB
oracle can check.

Scale notes: `window()`/`session_window()` are native Catalyst
expressions (codegen'd, no UDF); sliding windows multiply rows by
(length/slide) — keep that factor small; session windows shuffle once
on the session key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import davg, dsum, sql_dsum
from edinet_etl_spark.prefix import range_prefix_sum
from edinet_etl_spark.registry import query
from edinet_etl_spark.tables import load


@query(
    "tumbling_hourly_stats",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
    covers=["M5-window"],
)
def tumbling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window: ``F.window(ts, '1 hour')`` — epoch-
    aligned, identical semantics in batch and streaming."""
    return hourly_stats(load(spark, sf_dir, "events")).orderBy(
        "window_start", "event_type"
    )


def hourly_stats(ev: DataFrame) -> DataFrame:
    """Per-(1-hour tumbling window, event_type) count and exact value
    total over an events frame, batch or streaming."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "sliding_30m_windows",
    oracle=f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) - k * INTERVAL '10 minutes' AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) - k * INTERVAL '10 minutes'
             + INTERVAL '30 minutes' AS window_end,
           COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events, (SELECT unnest([0, 1, 2]) AS k)
    GROUP BY 1, 2
    ORDER BY window_start
    """,
    covers=["M5-window"],
)
def sliding_30m_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (30 min length, 10 min slide): each event lands in
    3 windows.  Oracle expresses the same assignment arithmetically."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "user_sessions",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             -- (ts, event_id): the running sum must accumulate in the
             -- order the LAG window flagged (CLAUDE.md: break window
             -- ties explicitly) or tied rows can land in the wrong session
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'session_value')}
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    covers=["M5-session"],
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) via the native
    ``session_window`` expression — Spark merges overlapping [ts, ts+gap)
    intervals per key.  The oracle derives identical sessions with the
    classic gaps-and-islands SQL.  session_window's end = last event +
    gap, matching MAX(ts) + gap."""
    return sessions(load(spark, sf_dir, "events")).orderBy("user_id", "session_start")


def sessions(ev: DataFrame) -> DataFrame:
    """Per-user 5-minute-gap sessions with event count and exact value
    total over an events frame, batch or streaming."""
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "first_event_per_user_type",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    covers=["M5-dedup", "A1"],
)
def first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest event — the deterministic batch
    analogue of streaming ``dropDuplicates([...])`` (which keeps an
    arbitrary first-seen row; we pin event-time order)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "props_json_decode",
    oracle="""
    SELECT event_type,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=["F14"],
)
def props_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 JSON decode (``src/extract.py:87,126``): get_json_object on
    the props column; integer sum is exact."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").try_cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query(
    "eventtype_hourly_pivot",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
    covers=["M5-window", "A-extended"],
)
def eventtype_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily conditional counts (pivot-style) over the event feed."""
    ev = load(spark, sf_dir, "events")

    def cnt(t: str, alias: str):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(alias)

    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(cnt("click", "clicks"), cnt("view", "views"), cnt("purchase", "purchases"), cnt("error", "errors"))
        .select(F.col("w.start").alias("day"), "clicks", "views", "purchases", "errors")
        .orderBy("day")
    )


@query(
    "multires_time_rollup",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
           time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           CAST(GROUPING(time_bucket(INTERVAL '1 day', ts)) * 2
                + GROUPING(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS gid,
           COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
    covers=["M5-window", "A-extended"],
)
def multires_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: grand total + per-day
    + per-hour aggregates in ONE pass via ROLLUP on nested time
    buckets (a continuous-aggregate ladder).  Spark expands grouping
    sets through a single Expand node — the input is scanned once, not
    once per resolution; ``grouping_id`` disambiguates rollup nulls
    from genuine nulls.  At 100 TB this is the pattern for maintaining
    downsample tables: one shuffle keyed by the finest bucket."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day_start")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    return (
        ev.rollup(day, hour)
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            dsum(F.col("value"), "total_value"),
        )
        .select("day_start", "hour_start", "gid", "n", "total_value")
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY f.cohort_day, CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
    ORDER BY cohort_day, day_offset
    """,
    covers=["EV-retention", "A-extended", "F4"],
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users grouped by first-seen day,
    counted distinct on each later activity day — the standard product
    analytics readout.  Two shuffles (first-day aggregate keyed on
    user_id, then the cohort×offset count-distinct); the first-day
    aggregate joins back keyed on user_id, co-partitioned with the
    event stream."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "event_funnel_conversion",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MIN(CASE WHEN event_type='view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type='click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type='purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_total,
           COUNT(t_view) AS n_view,
           COUNT(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
           COUNT(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
             AS n_full_funnel
    FROM m
    """,
    covers=["EV-funnel", "A-extended"],
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (view → click → purchase): per-user first
    occurrence of each step in one conditional-MIN aggregate pass, then
    strict time-ordering tests.  One shuffle on user_id + a singleton
    reduce; never a self-join per step (the naive N-way join blows up
    at event-log scale)."""
    ev = load(spark, sf_dir, "events")
    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")
    m = ev.groupBy("user_id").agg(first_of("view"), first_of("click"), first_of("purchase"))
    return m.agg(
        F.count("*").alias("n_total"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "event_type_map_roundtrip",
    oracle="""
    SELECT user_id, event_type, CAST(n * 2 AS BIGINT) AS n_doubled
    FROM (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type)
    ORDER BY user_id, event_type
    """,
    covers=["F15", "F-map-surface", "A-extended"],
)
def event_type_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (SURVEY §2.8 F15's `create_map` family
    beyond the literal-decode use): per-user counts are packed into a
    `map<event_type, n>` with ``map_from_entries``, transformed
    value-wise with ``transform_values``, and exploded back to rows.
    The map round-trip is internal — the flattened output is what the
    oracle checks (engine map-stringification differs; row output is
    portable).  Proves build/transform/explode semantics for map
    columns against a trivially-correct relational oracle.

    Plan: one (user, type) aggregate shuffle, one user-level
    `collect_list` reaggregate, per-row map ops in codegen — the map
    never crosses a shuffle wider than its packed struct entries."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    packed = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    doubled = packed.select(
        "user_id",
        F.transform_values(
            "type_counts", lambda _, v: v * F.lit(2).cast("bigint")
        ).alias("type_counts"),
    )
    return (
        doubled.select("user_id", F.explode("type_counts").alias("event_type", "n_doubled"))
        .orderBy("user_id", "event_type")
    )


@query(
    "event_transition_counts",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
    covers=["W (windows)", "A-extended", "F17"],
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: how often each event type follows
    each other type within a user's stream (the Markov-chain counts
    behind "what do users do after X" product analytics).  One LAG
    window per user + one pair group-by; each user's first event has no
    predecessor and is excluded.

    At scale: the window shuffle is on user_id (bounded state, one
    ordered pass); the transition matrix is |types|² rows — the
    aggregate output is tiny regardless of corpus size, so partial
    aggregation collapses everything map-side."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "props_variant_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    covers=["F14"],
)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    path extraction with ``try_variant_get`` — the modern engine path
    for schema-on-read JSON (parse once, probe many, columnar-friendly;
    vs F14's per-path ``get_json_object`` string re-parse in
    `props_json_decode`).  The oracle reads the same paths with
    DuckDB's JSON functions — the value surface is identical, the
    storage encoding is each engine's own.  All aggregates integer →
    exact."""
    ev = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
    )


@query(
    "seasonal_hourly_anomalies",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr, value
      FROM events
    ), base AS (
      SELECT event_type, hr,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,8))) AS s
      FROM ev GROUP BY event_type, hr
    )
    SELECT e.event_type, e.hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COALESCE(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,8)) * b.n
                                       > 3 * b.s THEN 1 END), 0) AS BIGINT)
             AS n_anomalies,
           CAST(COALESCE(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,8)) * b.n
                                       > 3 * b.s THEN 1 END), 0) AS DOUBLE)
             / COUNT(*) AS anomaly_frac
    FROM ev e JOIN base b ON e.event_type = b.event_type AND e.hr = b.hr
    GROUP BY e.event_type, e.hr
    ORDER BY e.event_type, e.hr
    """,
    covers=["M5-window", "A-extended", "LLM-quality"],
)
def seasonal_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: per (event_type,
    hour-of-day) bucket, count events whose value exceeds 3x the
    bucket's mean — the hour-of-day seasonality profile a monitoring
    pipeline maintains (the reference has no event surface at all; its
    nearest analogue is the per-day polling loop,
    /root/reference/src/extract.py:107-127).

    The threshold is the SCALE.md scale-invariant "x mean" form, and
    the comparison is EXACT: value > 3*mean(value) is tested as
    dec(value)*n > 3*sum_dec(value) — integer/decimal arithmetic only,
    no division, no float compare, portable bit-for-bit.

    Plan: one tiny aggregate (event_type x 24 rows, map-side partial
    combine) broadcast back onto a second scan — the corpus-global-
    stats pattern (SCALE.md): the fact stream is never shuffled for
    the baseline; the final per-bucket rollup's shuffle payload is
    bounded by group count per task, not input rows."""
    from edinet_etl_spark.numeric import dec

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hr"), "value"
    )
    base = ev.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"), F.sum(dec(F.col("value"))).alias("s")
    )
    joined = ev.join(F.broadcast(base), ["event_type", "hr"])
    is_anom = (dec(F.col("value")) * F.col("n")) > (F.lit(3) * F.col("s"))
    return (
        joined.groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n_events"),
            F.coalesce(F.sum(F.when(is_anom, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_anomalies"),
            (
                F.coalesce(F.sum(F.when(is_anom, 1)), F.lit(0)).cast("double")
                / F.count("*")
            ).alias("anomaly_frac"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "event_sequence_trigrams",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS trigram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY trigram
    ORDER BY n DESC, trigram
    LIMIT 10
    """,
    covers=["W-extended", "M5-session", "M6-text"],
)
def event_sequence_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the 10 most frequent 3-step
    event-type paths across per-user ordered streams — the n-gram
    extension of the Markov matrix in `event_transition_counts`
    (funnel discovery, next-action modeling).

    Plan: ONE shuffle (window partition on user_id; LEAD runs inside
    the per-partition sort), then a count aggregate whose map-side
    combine bounds shuffle payload at |distinct trigrams| <= |types|^3
    per task.  Window order (ts, event_id) is a total order per user,
    so LEAD is deterministic; top-10 carries the full (n DESC, trigram)
    tie-break per the LIMIT discipline."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(10)
    )


@query(
    "rolling_7d_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM ud
    )
    SELECT dd.d AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users_7d
    FROM days dd JOIN ud u ON u.d BETWEEN dd.d - 6 AND dd.d
    GROUP BY dd.d
    ORDER BY day
    """,
    covers=["M5-window", "A-extended", "W-extended"],
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the WAU
    engagement metric.  Sliding COUNT(DISTINCT) cannot be window-merged
    (distinct does not sum across days), so the scale-correct plan is
    the bounded CONTRIBUTION EXPLODE: collapse events to distinct
    (user, day) pairs first (the only full-data shuffle), then fan each
    pair out to the ≤7 window-end days it contributes to and count
    distinct users per window day.  Fan-out is a constant 7× on the
    already-collapsed daily actives (≪ raw events), never a range
    self-join of the event stream.

    The output keeps only window days that are themselves event days
    (the as-of-each-active-day convention), via a broadcast semi-join
    against the tiny distinct-day set."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    win = ud.select(
        F.explode(
            F.expr("sequence(d, date_add(d, 6), interval 1 day)")
        ).alias("day"),
        "user_id",
    ).join(F.broadcast(days.withColumnRenamed("d", "day")), "day", "left_semi")
    return (
        win.groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users_7d"))
        .orderBy("day")
    )


@query(
    "value_mad_outliers",
    oracle="""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ),
    med AS (
      SELECT event_type,
             (MIN(value) + MAX(value)) / CAST(2 AS DOUBLE) AS med_value,
             CAST(MAX(cnt) AS BIGINT) AS n
      FROM ranked
      WHERE rn = CAST(FLOOR((cnt + 1) / CAST(2 AS DOUBLE)) AS BIGINT)
         OR rn = CAST(FLOOR((cnt + 2) / CAST(2 AS DOUBLE)) AS BIGINT)
      GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.event_id, ABS(e.value - m.med_value) AS d
      FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    dranked AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM dev
    ),
    mad AS (
      SELECT event_type,
             (MIN(d) + MAX(d)) / CAST(2 AS DOUBLE) AS mad_value
      FROM dranked
      WHERE rn = CAST(FLOOR((cnt + 1) / CAST(2 AS DOUBLE)) AS BIGINT)
         OR rn = CAST(FLOOR((cnt + 2) / CAST(2 AS DOUBLE)) AS BIGINT)
      GROUP BY event_type
    )
    SELECT d.event_type, m.n, m.med_value, a.mad_value,
           CAST(SUM(CASE WHEN d.d > CAST(3 AS DOUBLE) * a.mad_value
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    GROUP BY d.event_type, m.n, m.med_value, a.mad_value
    ORDER BY d.event_type
    """,
    covers=["W-extended", "A3", "M6-curation"],
)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate: EXACT median + MAD (median
    absolute deviation) of `value` per event_type, and the count of
    events beyond the 3-MAD fence — the heavy-tail-safe alternative to
    the mean/σ z-score (`grouped_map_user_zscore`), which a single
    corrupt feed value can blind.

    Medians are exact by construction on both engines: rank by
    (value, event_id), take the one/two middle positions, midpoint =
    (min+max)/2 — a single correctly-rounded add + halving, never a
    float accumulation.  The MAD reruns the identical selection on
    |value − median|.

    Scale: two event_type-keyed window passes + two small joins; the
    per-type median/MAD table is |event_types| rows and broadcasts
    back onto the fact scan.  The windows partition on event_type, so
    per-type row volume is the skew bound — at lake scale the exact
    selection inside one type runs the binned two-pass instead
    (`binned_quantile_sketch` is this repo's constant-state form:
    256-bin counts locate the median bin, a second filtered pass
    selects exactly within it); this query is the exact-semantics
    form the sketch is validated against."""
    ev = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    two = F.lit(2).cast("double")

    def grouped_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wc = Window.partitionBy("event_type")
        r = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("cnt"),
        )
        lo = F.floor((F.col("cnt") + 1) / two).cast("bigint")
        hi = F.floor((F.col("cnt") + 2) / two).cast("bigint")
        return (
            r.filter((F.col("rn") == lo) | (F.col("rn") == hi))
            .groupBy("event_type")
            .agg(
                ((F.min(col) + F.max(col)) / two).alias(out),
                F.max("cnt").cast("bigint").alias("n"),
            )
        )

    med = grouped_median(ev, "value", "med_value")
    dev = ev.join(F.broadcast(med.select("event_type", "med_value")), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med_value")).alias("d"),
    )
    mad = grouped_median(dev, "d", "mad_value").select("event_type", "mad_value")
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med_value", "mad_value")
        .agg(
            F.sum(
                F.when(
                    F.col("d") > F.lit(3).cast("double") * F.col("mad_value"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select("event_type", "n", "med_value", "mad_value", "n_outliers")
        .orderBy("event_type")
    )


_ACF_LAGS = (1, 2, 3)


@query(
    "value_acf_lags",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               / COUNT(value) AS x
      FROM events GROUP BY event_type, h
    ),
    m AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
               / COUNT(x) AS mean_x,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY event_type
    ),
    centered AS (
      SELECT hourly.event_type, m.n_hours, hourly.x - m.mean_x AS c,
             LAG(hourly.x - m.mean_x, 1) OVER w AS c1,
             LAG(hourly.x - m.mean_x, 2) OVER w AS c2,
             LAG(hourly.x - m.mean_x, 3) OVER w AS c3
      FROM hourly JOIN m ON m.event_type = hourly.event_type
      WINDOW w AS (PARTITION BY hourly.event_type ORDER BY hourly.h)
    ),
    acc AS (
      SELECT event_type, MAX(n_hours) AS n_hours,
             CAST(CAST(SUM(CAST(c * c AS DECIMAL(18,8))) AS STRING) AS DOUBLE) AS den,
             {", ".join(
                 f"CAST(CAST(SUM(CAST(c * c{L} AS DECIMAL(18,8))) AS STRING) AS DOUBLE)"
                 f" AS num{L}, CAST(COUNT(c{L}) AS BIGINT) AS n{L}"
                 for L in _ACF_LAGS)}
      FROM centered GROUP BY event_type
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs, n_hours, acf
    FROM (
      {" UNION ALL ".join(
          f"SELECT event_type, {L} AS lag, n{L} AS n_pairs, n_hours,"
          f" num{L} / den AS acf FROM acc"
          for L in _ACF_LAGS)}
    ) ORDER BY event_type, lag
    """,
    covers=["M5-window", "W-extended", "A-extended"],
)
def value_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each event type's hourly mean-value
    series at lags 1-3 — the periodicity probe that tells a monitoring
    pipeline whether `seasonal_hourly_anomalies`'s daily profile model
    is even applicable (high lag-24 vs lag-1 structure), and the
    classic pre-whitening check before CUSUM alarms
    (`value_cusum_changepoint`) are trusted.

    acf_L = sum_t c_t*c_(t-L) / sum_t c_t^2 over the hour-ordered
    series, c = x - mean(x).  Every cross-row accumulation (hourly
    means, series mean, lag products, variance) runs through the
    exact-decimal dsum discipline; the only float ops are
    correctly-rounded single subtract/multiply/divide, so both engines
    agree bit-for-bit — no libm anywhere.

    Scale: the raw scan collapses to |event_types|*|hours| rows in one
    map-side-combined aggregate; the lag window partitions by
    event_type over that tiny series (days*24 rows per type at any
    corpus size — bounded by the time range, not the data volume);
    the final ACF table is |event_types|*3 rows."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(davg(F.col("value"), "x"))
    m = hourly.groupBy("event_type").agg(
        davg(F.col("x"), "mean_x"),
        F.count("*").cast("bigint").alias("n_hours"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    c = (F.col("x") - F.col("mean_x")).alias("c")
    centered = (
        hourly.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "n_hours",
            "h",
            c,
        )
        .select(
            "event_type",
            "n_hours",
            "c",
            *[F.lag("c", L).over(w).alias(f"c{L}") for L in _ACF_LAGS],
        )
    )
    acc = centered.groupBy("event_type").agg(
        F.max("n_hours").alias("n_hours"),
        dsum(F.col("c") * F.col("c"), "den"),
        *[
            a
            for L in _ACF_LAGS
            for a in (
                dsum(F.col("c") * F.col(f"c{L}"), f"num{L}"),
                F.count(f"c{L}").cast("bigint").alias(f"n{L}"),
            )
        ],
    )
    stacked = acc.select(
        "event_type",
        "n_hours",
        F.expr(
            "stack({n}, {args}) AS (lag, n_pairs, acf)".format(
                n=len(_ACF_LAGS),
                args=", ".join(
                    f"CAST({L} AS BIGINT), n{L}, num{L} / den" for L in _ACF_LAGS
                ),
            )
        ),
    )
    return stacked.select("event_type", "lag", "n_pairs", "n_hours", "acf").orderBy(
        "event_type", "lag"
    )


@query(
    "linear_touch_attribution",
    oracle="""
    WITH touched AS (
      SELECT p.event_id AS purchase_id, p.value AS pvalue,
             c.event_id AS click_id, hour(c.ts) AS touch_hour,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM events p
      JOIN events c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT CAST(touch_hour AS BIGINT) AS touch_hour,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           CAST(CAST(SUM(CAST(pvalue / CAST(n_touches AS DOUBLE)
                              AS DECIMAL(18,8))) AS STRING) AS DOUBLE)
             AS attributed_value
    FROM touched
    GROUP BY touch_hour ORDER BY touch_hour
    """,
    covers=["M5-window", "J-range", "A-extended"],
)
def linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: every click a user made in the
    24 h before a purchase shares that purchase's value equally
    (credit = value / n_touches), rolled up by the hour-of-day of the
    TOUCH — the marketing-analytics complement to the as-of
    last-touch shape (`asof_latest_order_per_event` keeps only the
    latest event; this keeps them all and splits credit).

    The per-purchase touch count is a window over the joined pairs,
    the division is a single correctly-rounded double op, and the
    credit roll-up runs through the exact-decimal sum, so the result
    is bit-stable under any partitioning.

    Scale: clicks join purchases on user_id (hash join, co-partitioned
    by the natural key) with the 24 h band as a post-filter — pair
    volume is bounded by per-user activity density (purchases/user ×
    clicks/user/day), never corpus², and a hot user salts like any
    skewed join key.  At lake scale the equi-key gains a day-bucket
    component ((user, day) ∈ {d, d-1}) so each click co-locates with
    only the purchases it can touch — the banded-range-join idiom of
    `price_neighbor_pairs_binned`."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        F.col("value").alias("pvalue"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("cts"),
        F.hour("cts").alias("touch_hour"),
    )
    touched = p.join(c, "user_id").filter(
        (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("cts") < F.col("pts"))
    )
    w = Window.partitionBy("purchase_id")
    credited = touched.select(
        "purchase_id",
        "touch_hour",
        (F.col("pvalue") / F.count("*").over(w).cast("double")).alias("credit"),
    )
    return (
        credited.groupBy(F.col("touch_hour").cast("bigint").alias("touch_hour"))
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.count_distinct("purchase_id").cast("bigint").alias("n_purchases"),
            dsum(F.col("credit"), "attributed_value"),
        )
        .orderBy("touch_hour")
    )


@query(
    "user_profile_snapshot",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type, value,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    agg AS (
      SELECT user_id,
             MIN(ts) AS first_seen, MAX(ts) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      FROM base GROUP BY user_id
    ),
    last_ev AS (
      SELECT user_id, event_type AS last_event_type FROM (
        SELECT user_id, event_type, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM base) WHERE rn = 1
    ),
    last_val AS (
      SELECT user_id, value AS last_value FROM (
        SELECT user_id, value, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM base WHERE value IS NOT NULL) WHERE rn = 1
    ),
    last_k AS (
      SELECT user_id, k AS last_k FROM (
        SELECT user_id, k, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM base WHERE k IS NOT NULL) WHERE rn = 1
    )
    SELECT a.user_id, a.first_seen, a.last_seen, a.n_events, a.n_types,
           e.last_event_type, v.last_value, k.last_k
    FROM agg a
    LEFT JOIN last_ev e ON e.user_id = a.user_id
    LEFT JOIN last_val v ON v.user_id = a.user_id
    LEFT JOIN last_k k ON k.user_id = a.user_id
    ORDER BY a.user_id
    """,
    covers=["EV-profile", "A1", "F14"],
)
def user_profile_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record / customer-360 materialization: one row per user
    with lifetime extent (first/last seen), activity counts, and
    last-observation SURVIVORSHIP per attribute — the most recent
    event type, the most recent non-null value, the most recent
    decodable props key — each independently carried from the latest
    event that HAS it (classic MDM survivorship, where attributes come
    from different source rows).

    Spark expresses every survivorship as max(struct(ts, event_id,
    attr)) guarded by a non-null filter — a single map-side-combined
    aggregation pass, NO windows, NO joins (the oracle mirrors with
    ROW_NUMBER arms; (ts, event_id) is a total order so both pick the
    identical row).  Outputs are existing data values — nothing to
    round.

    Scale: this is the one-shuffle profile materialization a feature
    store runs daily at any SF; partial aggregates combine per
    partition, so the exchange carries one in-flight profile per
    (user, partition) — never raw events.  Exact distinct-type count
    rides the same agg via Expand (|types| = 5 lanes)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k"),
    )

    def latest(col: str) -> F.Column:
        return F.max(
            F.when(
                F.col(col).isNotNull(),
                F.struct(F.col("ts"), F.col("event_id"), F.col(col).alias("v")),
            )
        )["v"]

    return (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            latest("event_type").alias("last_event_type"),
            latest("value").alias("last_value"),
            latest("k").alias("last_k"),
        )
        .orderBy("user_id")
    )


@query(
    "event_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id)) AS BIGINT) AS gap_us
      FROM events
    ),
    g AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    byval AS (
      SELECT event_type, gap_us, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY event_type, gap_us
    ),
    cum AS (
      SELECT event_type, gap_us, cnt,
             SUM(cnt) OVER (
               PARTITION BY event_type ORDER BY gap_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM byval
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           MIN(CASE WHEN 2 * cumcnt >= n THEN gap_us END) AS median_gap_us,
           CAST(CAST(SUM(CAST(gap_us AS DECIMAL(38,0)) * cnt) AS VARCHAR)
                AS DOUBLE) / MAX(n) AS mean_gap_us
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
    covers=["EV-interarrival", "W-extended", "A-extended"],
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type — the cadence
    profile behind rate-limiting, bot detection, and session-gap
    tuning (`user_sessions`' 30-minute threshold should come FROM this
    table, not folklore): per type, the exact min / median / mean /
    max gap between consecutive same-type events of the same user.

    Exactness: gaps are exact int64 microseconds (LAG over a pinned
    (ts, event_id) order); the median is nearest-rank selection over
    the distinct-gap collapse (integer cross-multiplied admission);
    the mean is an exact DECIMAL Σ gap·cnt with one string-hopped
    division.

    Scale: the LAG window partitions by (user, type) — maximal key
    parallelism, never a per-type global sort; gap rows then collapse
    to distinct (type, gap) values map-side before the per-type
    cumulative selection (the same two-collapse law as
    `exact_group_percentiles`)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        # ts is TIMESTAMP_NTZ (nanos-parquet conversion); the NTZ→TZ
        # cast is deterministic because prep() pins the session to UTC
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
        )
        .cast("bigint")
        .alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    byval = gaps.groupBy("event_type", "gap_us").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gap_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = byval.select(
        "event_type",
        "gap_us",
        "cnt",
        F.sum("cnt").over(wcum).alias("cumcnt"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
            F.min(
                F.when(2 * F.col("cumcnt") >= F.col("n"), F.col("gap_us"))
            ).alias("median_gap_us"),
            (
                F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("cnt"))
                .cast("string")
                .cast("double")
                / F.max("n")
            ).alias("mean_gap_us"),
        )
        .orderBy("event_type")
    )


@query(
    "clamped_running_balance",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN value
                  WHEN event_type = 'error' THEN -value
                  ELSE 0.0 END AS delta
      FROM events
    ),
    seq AS (
      SELECT user_id, delta,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM base
    ),
    walk AS (
      SELECT user_id, rn, n,
             GREATEST(0.0, delta) + 0.0 AS bal,
             CAST(CASE WHEN delta < 0 THEN 1 ELSE 0 END AS BIGINT) AS n_resets
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.n,
             GREATEST(0.0, w.bal + s.delta) + 0.0,
             w.n_resets + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
      FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id, n AS n_events, bal AS final_balance, n_resets
    FROM walk WHERE rn = n
    ORDER BY user_id
    """,
    covers=["EV-sequential", "X-iterative"],
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped (floor-at-zero) running balance — the canonical
    operator plain window functions CANNOT express: each step depends
    on the clamp applied at the previous step (credit balances,
    inventory that can't go negative, token buckets).  Purchases add
    value, errors drain it, the floor is 0; output is each user's
    final balance and how often the floor engaged.

    Spark form: per-user sequential fold inside ``applyInPandas`` —
    the honest shape for inherently-sequential state (the streaming
    twin is `applyInPandasWithState`); the oracle replays the SAME
    left-to-right IEEE fold as a recursive CTE, so results compare
    bit-exact (each step normalizes -0.0 via +0.0 on both sides —
    GREATEST/max disagree on zero sign, the one portability trap
    here).

    Scale: one shuffle on user_id; per-task work is linear in the
    largest user's history, state is one float — at 100 TB this runs
    as a streaming stateful op with the identical per-key fold."""
    import pandas as pd

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .when(F.col("event_type") == "error", -F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("delta"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        bal, resets = 0.0, 0
        for d in pdf["delta"]:
            nxt = bal + float(d)
            if nxt < 0:
                resets += 1
            bal = max(0.0, nxt) + 0.0
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "final_balance": [bal],
                "n_resets": [resets],
            }
        )

    out = ev.groupBy("user_id").applyInPandas(
        fold,
        schema="user_id bigint, n_events bigint, final_balance double, "
        "n_resets bigint",
    )
    return out.orderBy("user_id")


@query(
    "funnel_7d_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewed,
           CAST(COUNT(c.t_click) AS BIGINT) AS n_clicked_after,
           CAST(COUNT(p.t_purchase) AS BIGINT) AS n_purchased_chain,
           CAST(COUNT(CASE WHEN p.t_purchase <= v.t_view + INTERVAL 7 DAY
                      THEN 1 END) AS BIGINT) AS n_converted_7d
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    covers=["EV-funnel", "A-extended", "J-extended"],
)
def funnel_7d_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded RE-ANCHORED funnel — the strict form of
    `event_funnel_conversion`: each step's clock starts at the
    previous step's first completion (first click AT-OR-AFTER the
    first view, first purchase at-or-after that click), and a
    conversion only counts inside a 7-day window from first view.
    The unbounded relaxed funnel overstates conversion (any purchase
    after any click ever); marketing SLAs are stated in THIS form.

    Exactness: pure MIN-of-timestamps and interval comparisons — no
    arithmetic beyond an exact +7d shift.

    Scale: three per-user aggregates chained by user-keyed equi-joins
    — every shuffle is on user_id so AQE coalesces them onto one
    partitioning; step tables shrink monotonically down the funnel
    (click agg sees only view-reaching users).  At 100 TB this is the
    standard two-pass funnel; the single-pass alternative (collect
    per-user event lists) trades shuffle count for state size."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    joined = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_viewed"),
        F.count("t_click").cast("bigint").alias("n_clicked_after"),
        F.count("t_purchase").cast("bigint").alias("n_purchased_chain"),
        F.count(
            F.when(
                F.col("t_purchase") <= F.col("t_view") + F.expr("interval 7 days"),
                1,
            )
        )
        .cast("bigint")
        .alias("n_converted_7d"),
    )


@query(
    "mannwhitney_value_by_type",
    oracle="""
    WITH byval AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ),
    ranked AS (
      SELECT n_a, n_b,
             SUM(n_a + n_b) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM byval
    ),
    sums AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS na,
             CAST(SUM(n_b) AS BIGINT) AS nb,
             -- 2*R_a: tied values share the average of the rank block
             -- (prev+1 .. cum), whose DOUBLE is the integer prev+cum+1
             CAST(SUM(n_a * (cum - (n_a + n_b) + cum + 1)) AS BIGINT) AS two_ra
      FROM ranked
    )
    SELECT na AS n_click, nb AS n_purchase,
           CAST(two_ra - na * (na + 1) AS DOUBLE) / 2 AS u_click,
           CAST(na AS DOUBLE) * nb
             - CAST(two_ra - na * (na + 1) AS DOUBLE) / 2 AS u_purchase,
           CAST(two_ra AS DOUBLE) / (2 * na) AS mean_rank_click
    FROM sums
    """,
    covers=["EV-stats", "A-extended", "W-extended"],
)
def mannwhitney_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between click and purchase values
    — the rank-based two-sample test completing the drift-test trio
    (exact KS on values, chi-squared on categories, rank-sum on
    ordinal shift): U measures how often a click value beats a
    purchase value, robust to outliers in a way the mean comparison
    is not.

    Exact integer construction: the combined sample collapses to
    distinct values with per-group counts; tied values share the
    average rank of their block, and working with 2×rank
    (prev + cum + 1, an integer) keeps EVERYTHING in int64 — the two
    final halvings and the mean-rank division are single exact IEEE
    ops.  No libm, no float accumulation.

    Scale: distinct-value collapse map-side, one ordered window over
    the collapsed values (the same O(distinct) bound as the selection
    family), one-row output."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    return mannwhitney_u(
        ev.select("value", (F.col("event_type") == "click").alias("is_a")),
        "n_click",
        "n_purchase",
        "u_click",
        "u_purchase",
        "mean_rank_click",
    )


def mannwhitney_u(
    samples: DataFrame,
    na_name: str,
    nb_name: str,
    ua_name: str,
    ub_name: str,
    mr_name: str,
) -> DataFrame:
    """Mann-Whitney U core over any (value double, is_a boolean) frame
    (factored for the hypothesis model test)."""
    byval = samples.groupBy("value").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    # the distinct-value grid grows ~linearly in SF (a continuous
    # metric; round-10 lint catch), so the cumulative rank is the
    # range-partitioned two-level prefix sum, not a single-task window
    ranked = range_prefix_sum(
        byval, ["value"], F.col("n_a") + F.col("n_b"), "cum"
    ).select("n_a", "n_b", "cum")
    sums = ranked.agg(
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
        F.sum(
            F.col("n_a")
            * (F.col("cum") - (F.col("n_a") + F.col("n_b")) + F.col("cum") + 1)
        )
        .cast("bigint")
        .alias("two_ra"),
    )
    u_a = (F.col("two_ra") - F.col("na") * (F.col("na") + 1)).cast("double") / 2
    return sums.select(
        F.col("na").alias(na_name),
        F.col("nb").alias(nb_name),
        u_a.alias(ua_name),
        (F.col("na").cast("double") * F.col("nb") - u_a).alias(ub_name),
        (F.col("two_ra").cast("double") / (2 * F.col("na"))).alias(mr_name),
    )


@query(
    "longest_purchase_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d
      FROM events WHERE event_type = 'purchase'
    ),
    anchored AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d) AS BIGINT) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS n_active_days
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
    covers=["EV-islands", "W-extended", "A-extended"],
)
def longest_purchase_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day purchase streak per user — the classic
    gaps-and-islands computation (login streaks, SLA uptime runs)
    via the anchor trick: within a user's DISTINCT active days, every
    member of a consecutive run shares the same (day − row_number),
    so one group-by on that anchor measures every streak with no
    self-join and no iteration.

    Exactness: days become epoch-day int64 (sidestepping engine date
    arithmetic differences exactly as `business_day_ship_lag` does);
    everything after is integer counting.

    Scale: distinct-day collapse map-side, ONE user-keyed window over
    collapsed days (bounded by active days per user, not events), two
    more map-side aggregates — the anchor trick is what makes streaks
    linear where the naive self-join is quadratic per user."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    epoch = F.lit("1970-01-01").cast("date")
    days = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), epoch).cast("bigint").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    anchored = days.select(
        "user_id",
        "d",
        (F.col("d") - F.row_number().over(w).cast("bigint")).alias("anchor"),
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.sum("len").cast("bigint").alias("n_active_days"),
        )
        .orderBy("user_id")
    )


@query(
    "session_entry_exit_pairs",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '5 minutes'
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id,
             MIN(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
             MIN(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                 ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                 ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM numbered
      ) GROUP BY user_id, session_id
    )
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY entry_type, exit_type
    ORDER BY entry_type, exit_type
    """,
    covers=["M5-session", "A-extended"],
)
def session_entry_exit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry→exit page-pair matrix — the navigation summary a
    product dashboard builds on top of sessionization: for every
    session (5-minute inactivity gap, same islands as
    `user_sessions`), its first and last event type, rolled up to a
    |types|² matrix ("sessions that start with an error and end with
    a purchase" is one cell).

    The entry/exit election is min/max over (ts, event_id, type)
    struct ordering — a single aggregate, ties pinned by event_id
    ((ts, event_id) is a total order, so the oracle's two ROW_NUMBER
    arms pick the identical rows).

    Scale: the same ONE user-keyed window shuffle as sessionization
    itself, then two map-side-combined aggregates — the matrix is
    constant-size output."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("interval 5 minutes"),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session").over(wcum).alias("session_id"),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        ),
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "exit_type"
        ),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return (
        sessions.groupBy("entry_type", "exit_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("entry_type", "exit_type")
    )


@query(
    "hourly_value_bands",
    oracle="""
    WITH byval AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hod, value,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY hour(ts), value
    ),
    cum AS (
      SELECT hod, value, cnt,
             SUM(cnt) OVER (PARTITION BY hod ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
             SUM(cnt) OVER (PARTITION BY hod) AS n
      FROM byval
    )
    SELECT hod,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MIN(CASE WHEN 2 * cumcnt >= n THEN value END) AS p50,
           MIN(CASE WHEN 20 * cumcnt >= 19 * n THEN value END) AS p95
    FROM cum
    GROUP BY hod
    ORDER BY hod
    """,
    covers=["EV-bands", "W-extended", "A-extended"],
)
def hourly_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day p50/p95 value bands — the robust daily-profile
    envelope a monitoring dashboard draws behind the live line (and
    the banding `seasonal_hourly_anomalies`' mean-based baseline can't
    give when the value distribution is skewed): per hour of day, the
    exact nearest-rank median and 95th percentile of event values.

    Same integer-admission selection machinery as
    `exact_group_percentiles` (2·cum ≥ n, 20·cum ≥ 19n) over the
    distinct-value collapse; 24 fixed groups, constant output.

    Scale: the collapse bounds the per-hour window by distinct values,
    not events; hour-of-day extraction is deterministic under prep()'s
    pinned UTC session."""
    ev = load(spark, sf_dir, "events")
    byval = ev.groupBy(
        F.hour("ts").cast("bigint").alias("hod"), "value"
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    wcum = (
        Window.partitionBy("hod")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("hod")
    cum = byval.select(
        "hod",
        "value",
        "cnt",
        F.sum("cnt").over(wcum).alias("cumcnt"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    return (
        cum.groupBy("hod")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.min(F.when(2 * F.col("cumcnt") >= F.col("n"), F.col("value"))).alias(
                "p50"
            ),
            F.min(
                F.when(20 * F.col("cumcnt") >= 19 * F.col("n"), F.col("value"))
            ).alias("p95"),
        )
        .orderBy("hod")
    )


@query(
    "daily_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day
      FROM events e
    )
    SELECT d.day,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN d.day <> f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM daily d JOIN firsts f ON f.user_id = d.user_id
    GROUP BY d.day
    ORDER BY d.day
    """,
    covers=["EV-dau", "A-extended"],
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active-users decomposed into NEW vs RETURNING — the DAU
    split every growth dashboard leads with (`user_retention_cohorts`
    answers "do cohorts come back"; this answers "who is today's
    traffic made of").  A user is new on exactly their first-seen day.

    Exactness: distinct (user, day) collapse, a per-user MIN, integer
    counting — nothing to round.

    Scale: both inputs collapse map-side before the user-keyed join
    (bounded by users × active-days, not events); the join key is the
    user — the same co-partitionable shape as the retention triangle."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("active_users"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") != F.col("first_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
        )
        .orderBy("day")
    )


@query(
    "session_eventtype_lift",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '5 minutes'
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ),
    baskets AS (
      SELECT DISTINCT user_id, session_id, event_type FROM numbered
    ),
    totals AS (SELECT CAST(COUNT(DISTINCT (user_id, session_id)) AS BIGINT)
               AS n_sessions FROM baskets),
    singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM baskets GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both,
           sa.n AS n_a, sb.n AS n_b, t.n_sessions,
           CAST(p.n_both * t.n_sessions AS DOUBLE)
             / CAST(sa.n * sb.n AS DOUBLE) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN totals t
    ORDER BY type_a, type_b
    """,
    covers=["EV-basket", "A-extended", "M5-session"],
)
def session_eventtype_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over SESSIONS as baskets — the events twin
    of `copurchase_lift_pairs`: for every event-type pair, how much
    more often they co-occur in one session than independence
    predicts (lift > 1 = behavioral affinity; "sessions with errors
    also purchase?" is one cell).  Sessions are the same 5-minute
    islands as `user_sessions`.

    Exactness: all counts int64; lift is one exact int64 product per
    side converted to double (≪ 2^53) and one IEEE division.

    Scale: baskets collapse to distinct (session, type) map-side —
    with |types| = 5 the per-session fan-out is ≤ C(5,2), so the
    self-join is linear in sessions, never in events; singles and the
    one-row total broadcast back onto the 10-row pair grid."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("ts") - F.lag("ts").over(w) > F.expr("interval 5 minutes"), 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    baskets = (
        flagged.select(
            "user_id",
            "event_type",
            F.sum("new_session").over(wcum).alias("session_id"),
        )
        .distinct()
    )
    totals = baskets.select("user_id", "session_id").distinct().agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    singles = baskets.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = baskets.select(
        "user_id", "session_id", F.col("event_type").alias("type_a")
    )
    b = baskets.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("session_b"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (a.user_id == b.user_b)
            & (a.session_id == b.session_b)
            & (a.type_a < b.type_b),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            "n_sessions",
            (
                (F.col("n_both") * F.col("n_sessions")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "value_anova_by_event_type",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum('value', 'sy')},
             {sql_dsum('value * value', 'syy')}
      FROM events GROUP BY event_type
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             {sql_dsum('sy', 's_all')},
             {sql_dsum('syy', 'syy_all')},
             {sql_dsum('sy * sy / n', 'ssb_term')}
      FROM g
    )
    SELECT n_total, n_groups,
           ssb_term - s_all * s_all / n_total AS ss_between,
           syy_all - ssb_term AS ss_within,
           syy_all - s_all * s_all / n_total AS ss_total,
           (ssb_term - s_all * s_all / n_total)
             / (syy_all - s_all * s_all / n_total) AS eta_sq,
           ((ssb_term - s_all * s_all / n_total) / (n_groups - 1))
             / ((syy_all - ssb_term) / (n_total - n_groups)) AS f_stat
    FROM t
    """,
    covers=["A-extended", "M6-quality"],
)
def value_anova_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA decomposition of event value by event type — the
    "does this dimension explain the metric at all?" monitor that sits
    above the pairwise tests (Mann-Whitney, KS): SS_between/SS_within,
    η² (variance explained) and the F statistic, computed from the
    sufficient statistics (n, Σy, Σy²) per group.  No p-value on
    purpose — the F CDF needs betainc (libm); the statistic itself is
    exact ratio arithmetic and thresholds fine for monitoring.

    Bit-exactness: both aggregate levels ride the decimal discipline
    (per-group sums over rows, then the G-row collapse), and every
    derived quantity is the same correctly-rounded double op sequence
    in both engines.

    Scale: ONE map-side-combinable aggregate over the fact stream
    (sufficient statistics are mergeable — this is sketch-shaped), a
    G-row second collapse, zero joins.  The same two-level shape
    computes ANOVA over any corpus size; G is the only state."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(F.col("value"), "sy"),
        dsum(F.col("value") * F.col("value"), "syy"),
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_groups"),
        dsum(F.col("sy"), "s_all"),
        dsum(F.col("syy"), "syy_all"),
        dsum(F.col("sy") * F.col("sy") / F.col("n"), "ssb_term"),
    )
    correction = F.col("s_all") * F.col("s_all") / F.col("n_total")
    ssb = F.col("ssb_term") - correction
    ssw = F.col("syy_all") - F.col("ssb_term")
    sst = F.col("syy_all") - correction
    return t.select(
        "n_total",
        "n_groups",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        sst.alias("ss_total"),
        (ssb / sst).alias("eta_sq"),
        ((ssb / (F.col("n_groups") - 1)) / (ssw / (F.col("n_total") - F.col("n_groups")))).alias(
            "f_stat"
        ),
    )


_CUPED_SPLIT = "2024-01-16"  # pre-period | post-period boundary


@query(
    "cuped_variance_reduction",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                 THEN CAST(value AS DECIMAL(18,8))
                 ELSE CAST(0 AS DECIMAL(18,8)) END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                 THEN CAST(value AS DECIMAL(18,8))
                 ELSE CAST(0 AS DECIMAL(18,8)) END) AS y
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM u
    )
    SELECT n_users,
           (sxy - sx * sy / n_users) / (sxx - sx * sx / n_users) AS theta,
           (syy - sy * sy / n_users) / n_users AS var_y,
           ((syy - sy * sy / n_users)
            - (sxy - sx * sy / n_users) * (sxy - sx * sy / n_users)
              / (sxx - sx * sx / n_users)) / n_users AS var_adj_y,
           (sxy - sx * sy / n_users) * (sxy - sx * sy / n_users)
             / ((sxx - sx * sx / n_users) * (syy - sy * sy / n_users))
             AS var_reduction
    FROM s
    """,
    covers=["A-extended", "M6-quality", "F1-F4"],
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment variance reduction): per user, the
    pre-period metric x is the covariate for the post-period metric y;
    θ = Cov(x,y)/Var(x) and the adjusted metric y−θ(x−x̄) has variance
    Var(y)·(1−ρ²) — `var_reduction` = ρ² IS the fraction of A/B-test
    sample size the covariate buys back.  This is the standard
    experimentation-platform preprocessing step over exactly this kind
    of event stream.

    Numeric path: per-user sums stay IN DECIMAL (no double hop), so
    the user-level products x·y, x², y² are EXACT decimal(37,16) —
    per-user month sums reach ~4e5, whose squares (1.6e11) are far
    past the quantize-a-double portability bound, the trap the EWMA
    fix documented; decimal-native multiplication sidesteps it at any
    magnitude.  The string hop to double happens once, on the five
    corpus totals; everything after is the same correctly-rounded op
    sequence in both engines.

    Scale: one user-keyed aggregate (map-side combinable), one 5-value
    collapse; sufficient statistics again — mergeable across shards,
    no second scan, no join."""
    ev = load(spark, sf_dir, "events")
    split = F.lit(f"{_CUPED_SPLIT} 00:00:00").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,8)")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < split, F.col("value").cast("decimal(18,8)")).otherwise(zero)
        ).alias("x"),
        F.sum(
            F.when(F.col("ts") >= split, F.col("value").cast("decimal(18,8)")).otherwise(zero)
        ).alias("y"),
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("string").cast("double").alias("sx"),
        F.sum("y").cast("string").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("string").cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("string").cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("string").cast("double").alias("syy"),
    )
    n = F.col("n_users")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    return s.select(
        "n_users",
        (cov / varx).alias("theta"),
        (vary / n).alias("var_y"),
        ((vary - cov * cov / varx) / n).alias("var_adj_y"),
        (cov * cov / (varx * vary)).alias("var_reduction"),
    )


@query(
    "did_estimator",
    oracle=f"""
    WITH tagged AS (
      SELECT ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                  THEN 1 ELSE 0 END AS period,
             value
      FROM events
    ), cells AS (
      SELECT arm, period,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum('value', 's')}
      FROM tagged GROUP BY arm, period
    ), m AS (
      SELECT
        MAX(CASE WHEN arm = 0 AND period = 0 THEN s / n END) AS pre_c,
        MAX(CASE WHEN arm = 0 AND period = 1 THEN s / n END) AS post_c,
        MAX(CASE WHEN arm = 1 AND period = 0 THEN s / n END) AS pre_t,
        MAX(CASE WHEN arm = 1 AND period = 1 THEN s / n END) AS post_t,
        CAST(SUM(n) AS BIGINT) AS n_events
      FROM cells
    )
    SELECT n_events, pre_c, post_c, pre_t, post_t,
           (post_t - pre_t) - (post_c - pre_c) AS did_estimate
    FROM m
    """,
    covers=["A-extended", "M6-quality", "F1-F4"],
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES over the experiment frame the SRM and
    CUPED queries share (hash-parity arms, the same pre/post
    boundary): the 2×2 cell means and the DiD estimate
    (Δtreatment − Δcontrol), the causal-effect workhorse when
    randomization is imperfect or the metric trends — closing the
    experimentation ladder: `ab_assignment_srm_check` validates the
    split, `cuped_variance_reduction` shrinks the error bar, this
    estimates the effect.

    Exactness: one decimal-disciplined aggregate to FOUR cells, each
    mean one division, the estimate three subtractions — the same
    correctly-rounded chain in both engines.

    Scale: single map-side-combinable scan to a 4-row grid; the 2×2
    pivot is a MAX-CASE over four rows.  Mergeable across shards like
    every sufficient-statistic query here."""
    ev = load(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint")
        % 2
    )
    split = F.lit(f"{_CUPED_SPLIT} 00:00:00").cast("timestamp")
    tagged = ev.select(
        arm.alias("arm"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("period"),
        "value",
    )
    cells = tagged.groupBy("arm", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(F.col("value"), "s"),
    )

    def cell(a: int, p: int):
        return F.max(
            F.when(
                (F.col("arm") == a) & (F.col("period") == p),
                F.col("s") / F.col("n"),
            )
        )

    m = cells.agg(
        cell(0, 0).alias("pre_c"),
        cell(0, 1).alias("post_c"),
        cell(1, 0).alias("pre_t"),
        cell(1, 1).alias("post_t"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    return m.select(
        "n_events",
        "pre_c",
        "post_c",
        "pre_t",
        "post_t",
        (
            (F.col("post_t") - F.col("pre_t")) - (F.col("post_c") - F.col("pre_c"))
        ).alias("did_estimate"),
    )
