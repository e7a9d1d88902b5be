"""Structured Streaming jobs over the events feed (SURVEY.md §2.9).

The reference has no streaming — its incremental surface is a per-day
polling loop (``/root/reference/src/extract.py:107-127``).  Here the
same event-time operators exposed in batch form by
``operators/events.py`` run as real ``readStream`` → transform →
``writeStream`` jobs:

- watermarked tumbling-window aggregation,
- session windows (``session_window``),
- in-stream exact dedup (``dropDuplicatesWithinWatermark``),
- a custom stateful operator via ``applyInPandasWithState``.

Each job also registers a ``queries()`` entry that drives the stream
to completion with ``trigger(availableNow=True)`` and returns the
materialized result — so the DuckDB oracle checks *streaming* output
against plain SQL, proving batch/stream parity (the Structured
Streaming promise: one declarative plan, two execution modes).

Scale notes: file-source streams at 100 TB use
``maxFilesPerTrigger``/``maxBytesPerTrigger`` for backpressure;
watermarks bound state; session/window state lives in the state store
(RocksDB in production), partitioned by grouping key.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from edinet_etl_spark.numeric import dec, dec8, dsum, sql_dsum
from edinet_etl_spark.operators.events import hourly_stats, sessions
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize, prep, scratch_dir, staged_dir
from edinet_etl_spark.tables import decode_events, load

def _raw_schema(ts_is_nanos: bool) -> T.StructType:
    """Stream-source schema matching the feed's physical encoding: a
    TIMESTAMP(NANOS) file surfaces ``ts`` as int64 under the legacy
    conf (then normalized ns → µs), a TIMESTAMP(MICROS) file reads as
    a plain timestamp.  The encoding is probed from the parquet footer
    by ``tables.events_ts_is_nanos`` — one rule shared with the batch
    loader, so batch and stream always see identical instants."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType() if ts_is_nanos else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events parquet data into a directory the file stream
    source can monitor (a feed IS a directory files land in).  The
    fixture is one file; a multi-file lake layout (e.g. the 10× probe's
    output directory) symlinks each data file individually, so the
    stream sees them as successive arrivals under maxFilesPerTrigger —
    i.e. a real multi-batch feed.  Symlink, no copy; idempotent.

    Per-session dir (`session.scratch_dir`): two concurrent sessions
    must not race on each other's symlink reconciliation — one session
    unlinking a stale layout would break a stream the other is
    mid-read on."""
    import os

    d = scratch_dir(spark, sf_dir, "stream_feed")
    os.makedirs(d, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        wanted = {
            (f if f.endswith(".parquet") else f + ".parquet"): os.path.join(src, f)
            for f in os.listdir(src)
            if not f.startswith(("_", "."))
        }
    else:
        wanted = {"events.parquet": src}
    # reconcile: a regenerated or re-laid-out source must not leave
    # dangling links (FileNotFoundException in the stream) or leftover
    # links from a previous layout (double-counted rows).  lexists, not
    # exists: a dangling symlink still occupies the name.
    for f in os.listdir(d):
        link = os.path.join(d, f)
        if f not in wanted or os.path.realpath(link) != os.path.realpath(wanted[f]):
            os.unlink(link)
    for name, target in wanted.items():
        link = os.path.join(d, name)
        if not os.path.lexists(link):
            os.symlink(target, link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet; same columns and
    instants as the batch loader."""
    return _events_stream(spark, sf_dir, lambda _nanos: _feed_dir(spark, sf_dir))


def _events_stream(
    spark: SparkSession, sf_dir: str, feed_dir: Callable[[bool], str]
) -> DataFrame:
    """The events stream over the directory ``feed_dir(ts_is_nanos)``
    stages, one file per micro-batch, decoded by `tables.decode_events`."""
    prep(spark)
    return decode_events(
        spark,
        sf_dir,
        lambda nanos: (
            spark.readStream.schema(_raw_schema(nanos))
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir(nanos))
        ),
    )


def run_available_now(
    sdf: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink; return the materialized result as a batch DataFrame."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def drain(stream: DataFrame, upsert, checkpoint_dir: str) -> None:
    """Drive ``stream`` to completion (availableNow) through the
    ``foreachBatch`` sink ``upsert`` — the one driver of every
    snapshot-maintaining stream (the ``make_*_upsert`` closures).

    foreachBatch delivery is AT-LEAST-once (a crash between snapshot
    commit and checkpoint commit re-delivers the batch), so an additive
    merge alone is NOT idempotent; the CURRENT pointer `_commit` moves
    atomically names the last merged batch id, and the sink's replay
    guard (`_snapshot_sink`) turns re-delivery into a no-op — that
    pair is what makes the end state exactly-once.  Parquet cannot be
    read and overwritten in one job, so each batch writes a new
    version dir and `_commit` repoints CURRENT to it (Delta/Iceberg
    make this an atomic commit; the orchestration is identical)."""
    (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ------------------------------------------------------------------
# Jobs (streaming DataFrames)
# ------------------------------------------------------------------

def tumbling_hourly_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling window — the batch ``tumbling_hourly_stats``
    aggregation; the 1-hour watermark bounds state."""
    return hourly_stats(events.withWatermark("ts", "1 hour"))


def user_sessions_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows (5-minute gap) — the batch
    ``user_sessions`` aggregation, merged in the state store as events
    arrive."""
    return sessions(events.withWatermark("ts", "1 hour"))


def dedup_stream(events: DataFrame) -> DataFrame:
    """In-stream exact dedup on event_id within the watermark horizon
    (``dropDuplicatesWithinWatermark``): state is GC'd once the
    watermark passes — the scalable form of streaming dedup."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        # exact decimal total carried as a string: float state would
        # re-round on every batch; the string round-trips losslessly
        T.StructField("total_dec", T.StringType()),
    ]
)
_USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_user_totals(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running per-user event count and value
    sum.  The sum follows the engine-wide exact-decimal discipline
    (numeric.py): each double is quantized to DECIMAL(·,8) exactly as
    Spark's HALF_UP cast does (repr → shortest decimal → setScale), the
    decimals are summed exactly (associative, order-free), and the
    output converts decimal → string → double, the portable correctly-
    rounded path.  Result: bit-identical to SQL ``dsum`` at any batch
    split."""
    import decimal
    import math

    (user_id,) = key
    if state.exists:
        n, total_dec = state.get
        total = decimal.Decimal(total_dec)
    else:
        n, total = 0, decimal.Decimal(0)
    for pdf in pdfs:
        for v in pdf["value"]:
            n += 1
            # SQL SUM skips NULLs (NaN here after the pandas transfer);
            # dec8(nan) would raise InvalidOperation and kill the task —
            # mirror the declarative dsum instead
            fv = float(v)
            if math.isnan(fv):
                continue
            total += dec8(fv)
    state.update((n, str(total)))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [float(str(total))],
        }
    )


def user_totals_stream(events: DataFrame) -> DataFrame:
    """``applyInPandasWithState``: arbitrary per-key state beyond what
    windows express — the extension point for custom streaming
    operators (counters, ML feature state, CDC merge)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------------------
# queries() entries: run the stream to completion, check vs SQL oracle
# ------------------------------------------------------------------

@query(
    "streaming_tumbling_hourly",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2, 3
    """,
    covers=["M5-stream"],
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch parity proof: the watermarked streaming window
    agg, driven to completion, must equal the plain SQL aggregation.
    Complete output mode emits final window states."""
    ev = read_events_stream(spark, sf_dir)
    return run_available_now(
        tumbling_hourly_stream(ev), "stream_tumbling_hourly_result", "complete"
    )


@query(
    "streaming_dedup_events",
    oracle="SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_distinct FROM events",
    covers=["M5-stream"],
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the feed (event_id is unique
    in the fixture, so output cardinality == distinct count — the
    check proves the operator passes every unique event exactly once)."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(dedup_stream(ev), "stream_dedup_result", "append")
    return out.agg(
        F.count("*").alias("n"), F.count_distinct("event_id").alias("n_distinct")
    )


@query(
    "streaming_user_sessions",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             -- (ts, event_id) order: ties on ts must accumulate in the
             -- same order the LAG window flagged them, or a tied peer
             -- of a session-opening row lands in the wrong session
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
    """,
    covers=["M5-stream", "M5-session"],
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows driven to completion must equal the
    batch gaps-and-islands SQL — state-store session merging vs.
    declarative window SQL, same answer."""
    ev = read_events_stream(spark, sf_dir)
    return run_available_now(
        user_sessions_stream(ev), "stream_user_sessions_result", "complete"
    )


@query(
    "streaming_user_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value', 'total_value')}
    FROM events GROUP BY user_id
    """,
    covers=["M5-stream", "X-stateful"],
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator's final state per user must equal
    the batch group-by — update mode emits one row per key per batch;
    keep the last emission per key."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(
        user_totals_stream(ev), "stream_user_totals_result", "update"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


# ------------------------------------------------------------------
# Streaming JOIN-view maintenance: the applyInPandasWithState sibling
# of analytics.incremental_join_maintenance (VERDICT r7 task 5b) —
# the same delta algebra Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, but
# maintained LIVE per micro-batch instead of audited per epoch.
# ------------------------------------------------------------------

_JOINVIEW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_view", T.LongType()),
        T.StructField("n_purchase", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        # exact decimal accumulators carried as strings (the
        # _update_user_totals discipline)
        T.StructField("purch_value_dec", T.StringType()),
        T.StructField("pair_value_dec", T.StringType()),
    ]
)

_JOINVIEW_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_view", T.LongType()),
        T.StructField("n_purchase", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("pair_value_sum", T.DoubleType()),
    ]
)


def _update_user_join_view(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful delta-algebra maintenance of the per-user view⋈purchase
    join view.  State holds the base-side cardinalities (V = views
    seen, P = purchases seen) and exact decimal sums; each micro-batch
    contributes deltas (dv, dp, dS) and the join view advances by the
    product rule — EXACTLY the three delta terms of
    ``incremental_join_maintenance``, never re-scanning history:

        pairs    += dv·P  + V·dp  + dv·dp      (ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB)
        pairval  += dv·S  + V·dS  + dv·dS

    Decimal arithmetic is exact and the product-rule telescopes, so the
    final state is bit-identical to the batch recompute
    (V_total·P_total, V_total·S_total) at ANY batch split — the same
    merge-correctness contract the batch sibling's oracle proves."""
    import decimal
    import math

    (user_id,) = key
    if state.exists:
        n_v, n_p, n_pairs, s_dec, pair_dec = state.get
        s = decimal.Decimal(s_dec)
        pairval = decimal.Decimal(pair_dec)
    else:
        n_v, n_p, n_pairs = 0, 0, 0
        s = decimal.Decimal(0)
        pairval = decimal.Decimal(0)
    dv, dp = 0, 0
    ds = decimal.Decimal(0)
    for pdf in pdfs:
        for et, v in zip(pdf["event_type"], pdf["value"]):
            if et == "view":
                dv += 1
            elif et == "purchase":
                dp += 1
                fv = float(v)
                # SQL SUM skips NULLs (NaN after the pandas transfer)
                if not math.isnan(fv):
                    ds += dec8(fv)
    n_pairs += dv * n_p + n_v * dp + dv * dp
    pairval += dv * s + n_v * ds + dv * ds
    n_v += dv
    n_p += dp
    s += ds
    state.update((n_v, n_p, n_pairs, str(s), str(pairval)))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_view": [n_v],
            "n_purchase": [n_p],
            "n_pairs": [n_pairs],
            "pair_value_sum": [float(str(pairval))],
        }
    )


def join_view_stream(events: DataFrame) -> DataFrame:
    """Per-user join-view maintenance as a streaming stateful operator;
    state is keyed by user_id and holds five scalars — constant per
    key, so state-store size is O(users), independent of event volume
    (the property that makes live view maintenance deployable where a
    stream-stream join's buffered-rows state is not)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_join_view,
        outputStructType=_JOINVIEW_OUT_SCHEMA,
        stateStructType=_JOINVIEW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "streaming_join_view_maintenance",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                     * COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN CAST(value AS DECIMAL(18,8)) END),
                                CAST(0 AS DECIMAL(18,8)))
                AS VARCHAR) AS DOUBLE) AS pair_value_sum
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    covers=["M5-stream", "X-stateful", "SC-maintenance"],
)
def streaming_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live sibling of ``incremental_join_maintenance``: the
    per-user view⋈purchase join view (pair count and pair-value sum —
    what an exposure⋈conversion attribution join materializes)
    maintained by the delta algebra inside ``applyInPandasWithState``
    state, one product-rule update per micro-batch.  The ORACLE is the
    full batch recompute over the whole feed: equality proves the
    incremental path converges to the exact join view regardless of
    how the stream was batched — closing the loop between the batch
    delta-algebra audit and a live refresh."""
    ev = read_events_stream(spark, sf_dir)
    out = run_available_now(
        join_view_stream(ev), "stream_join_view_result", "update"
    )
    # update mode emits one row per key per batch it appears in; the
    # final emission has the largest event total (strictly increasing)
    w = Window.partitionBy("user_id").orderBy(
        F.desc(F.col("n_view") + F.col("n_purchase"))
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_view", "n_purchase", "n_pairs", "pair_value_sum")
        .orderBy("user_id")
    )


def _applied_batch(snapshot_dir: str) -> int:
    """Last batch id committed to the snapshot (-1 if none), read from
    the CURRENT pointer file."""
    import os

    cur = os.path.join(snapshot_dir, "CURRENT")
    if os.path.exists(cur):
        with open(cur) as f:
            return int(f.read().strip().lstrip("v"))
    return -1


def _read_manifest(snapshot_dir: str, at: int | None = None) -> dict[str, int]:
    """bucket → owning-version map of the CURRENT version (or of the
    retained version ``at``); `_commit` writes one into every version
    dir BEFORE the pointer moves.  FileNotFoundError, naming the dir,
    when nothing is committed, ``at`` is beyond CURRENT or no longer
    retained."""
    import json
    import os

    applied = _applied_batch(snapshot_dir)
    if applied < 0:
        raise FileNotFoundError(f"no snapshot version is committed in {snapshot_dir}")
    if at is not None and at > applied:
        # a v-dir beyond CURRENT can exist after a crash between the
        # version write and the pointer commit — it is NOT a committed
        # snapshot and must not be readable as one
        raise FileNotFoundError(
            f"snapshot version v{at} is beyond the committed pointer "
            f"(v{applied}) in {snapshot_dir}"
        )
    version = applied if at is None else at
    p = os.path.join(snapshot_dir, f"v{version}", "MANIFEST.json")
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"snapshot version v{version} is not retained in {snapshot_dir} "
            "(raise keep_versions on the writer to time-travel further back)"
        )
    with open(p) as f:
        return {k: int(v) for k, v in json.load(f).items()}


def _read_version(spark, snapshot_dir: str, manifest: dict[str, int]) -> DataFrame:
    """The parquet of ``manifest``'s buckets, each read from the version
    dir that owns it, in bucket order."""
    import os

    return spark.read.parquet(
        *(
            os.path.join(snapshot_dir, f"v{v}", f"bucket={b}")
            for b, v in sorted(manifest.items(), key=lambda kv: int(kv[0]))
        )
    )


def read_snapshot(spark, snapshot_dir: str, at: int | None = None):
    """Resolve the CURRENT pointer (or, with ``at``, a RETAINED
    historical version — TIME TRAVEL) to its bucket manifest and read
    that version's parquet — the only sanctioned way to read these
    snapshots.  Each bucket is read from the newest version ≤ the
    target that rewrote it (untouched buckets carry forward by
    reference, never by copy), so a historical read costs the same as
    a current one — the manifest IS the time-travel index, exactly as
    in a table format.  A whole-rewrite version is the one bucket
    ``bucket=0``."""
    return _read_version(spark, snapshot_dir, _read_manifest(snapshot_dir, at))


def _commit(
    snapshot_dir: str, batch_id: int, manifest: dict[str, int], keep_versions: int = 1
) -> None:
    """The one commit step of every snapshot, once the writer has put
    the new bucket dirs under ``v{batch_id}``: write its MANIFEST.json,
    atomically repoint CURRENT (``os.replace`` of a FILE, POSIX-atomic;
    readers see the old version or the new one, never a partial
    state), then retention.  The newest ``keep_versions`` manifests
    form the time-travel window; an older version loses its manifest,
    but its bucket dirs survive while a retained manifest points at
    them (expiry and GC are separate, as in a table format's
    expire_snapshots).  Both run AFTER the pointer moved: a crash
    mid-prune leaves harmless garbage, never a broken snapshot."""
    import json
    import os
    import shutil

    with open(os.path.join(snapshot_dir, f"v{batch_id}", "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    tmp = os.path.join(snapshot_dir, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(f"v{batch_id}")
    os.replace(tmp, os.path.join(snapshot_dir, "CURRENT"))

    vdirs = [d for d in os.listdir(snapshot_dir) if d.startswith("v") and d[1:].isdigit()]
    manifest_versions = sorted(
        (
            int(d[1:])
            for d in vdirs
            if os.path.exists(os.path.join(snapshot_dir, d, "MANIFEST.json"))
        ),
        reverse=True,
    )
    window = manifest_versions[: max(1, keep_versions)]
    referenced: set[int] = set(window)
    for mv in window:
        referenced |= set(_read_manifest(snapshot_dir, at=mv).values())
    for mv in manifest_versions[max(1, keep_versions):]:
        os.remove(os.path.join(snapshot_dir, f"v{mv}", "MANIFEST.json"))
    for d in vdirs:
        if int(d[1:]) not in referenced:
            shutil.rmtree(os.path.join(snapshot_dir, d), ignore_errors=True)


def _snapshot_sink(snapshot_dir: str, write_version, keep_versions: int = 1):
    """The one foreachBatch skeleton of every snapshot sink: replay
    guard (skip batch ids ≤ the committed pointer; see `drain`) →
    ``write_version(batch_df, batch_id, prev)`` writes the new bucket
    dirs under ``v{batch_id}`` and returns the version's manifest
    (``prev`` is the committed manifest, ``{}`` before the first
    commit; None means nothing to commit) → `_commit`."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        applied = _applied_batch(snapshot_dir)
        if batch_id <= applied:
            return  # re-delivered batch after a crash: already merged
        prev = _read_manifest(snapshot_dir) if applied >= 0 else {}
        manifest = write_version(batch_df, batch_id, prev)
        if manifest is not None:
            _commit(snapshot_dir, batch_id, manifest, keep_versions)

    return upsert


def _write_whole(df: DataFrame, snapshot_dir: str, batch_id: int) -> dict[str, int]:
    """Whole-rewrite version: all of ``df`` as the one bucket
    ``v{batch_id}/bucket=0``; returns that version's manifest."""
    import os

    df.write.mode("overwrite").parquet(
        os.path.join(snapshot_dir, f"v{batch_id}", "bucket=0")
    )
    return {"0": batch_id}


def _snapshot_workdir(spark, sf_dir: str, kind: str) -> tuple[str, str]:
    """Fresh (snapshot, checkpoint) pair in this session's
    `session.scratch_dir` — two sessions running the same query
    concurrently must not clobber each other."""
    import os
    import shutil

    base = scratch_dir(spark, sf_dir, kind)
    shutil.rmtree(base, ignore_errors=True)
    return os.path.join(base, "snapshot"), os.path.join(base, "ckpt")


def make_additive_upsert(snapshot_dir: str, build_updates, merge):
    """Whole-rewrite additive snapshot sink (`_snapshot_sink`): build
    this batch's update rows → merge with the committed version →
    write it all as the next version (`_write_whole`).  The sinks
    parameterize ONLY the two DataFrame transforms; the
    key-proportional form is `make_partitioned_additive_upsert`."""

    def write_version(batch_df: DataFrame, batch_id: int, prev: dict[str, int]):
        merged = build_updates(batch_df)
        if prev:
            merged = merge(
                _read_version(batch_df.sparkSession, snapshot_dir, prev), merged
            )
        return _write_whole(merged, snapshot_dir, batch_id)

    return _snapshot_sink(snapshot_dir, write_version)


# Fixed hash-bucket count of a partitioned snapshot.  At 100 TB this
# is the knob that sets per-batch rewrite granularity: with B buckets
# and a batch touching k distinct keys, the merge reads and rewrites
# min(k, B)/B of the snapshot instead of all of it.  B is a layout
# constant (like a table format's bucket spec) — changing it means a
# one-off full rewrite, so pick it from target snapshot size / desired
# file size (e.g. 10 TB snapshot / 256 MB files ≈ 40 k buckets).
_N_SNAP_BUCKETS = 16


def make_partitioned_additive_upsert(
    snapshot_dir: str, build_updates, merge, key: str, keep_versions: int = 1
):
    """`make_additive_upsert`, but per-batch cost proportional to the
    TOUCHED key-buckets, not the whole snapshot — the fix for the
    O(snapshot)-per-batch rewrite the 10× probe measured at ~8× for 10
    micro-batches.

    Layout: rows hash into ``_N_SNAP_BUCKETS`` fixed buckets
    (``pmod(xxhash64(key), B)``).  Each version dir ``v{batch}`` holds
    parquet ONLY for the buckets that batch rewrote; its manifest maps
    every bucket to the version that owns its current data (untouched
    buckets inherit the previous manifest's pointers), and `_commit`
    writes it.  An untouched bucket is thus carried forward BY
    REFERENCE — zero read, zero write, zero copy (pinned by
    ``test_partitioned_snapshot_touched_only``).  The price is one
    extra probe job per batch (the touched-bucket collect), so a
    constant-size snapshot is cheaper under the whole-rewrite form.

    ``keep_versions`` > 1 retains the newest K manifests' closures —
    TIME TRAVEL: ``read_snapshot(spark, dir, at=batch)`` reconstructs
    any retained version at the same cost as a current read, because
    the manifest already indexes every bucket to its owning version
    (a historical bucket is just an older pointer, not a copy)."""
    import os

    def write_version(batch_df: DataFrame, batch_id: int, prev: dict[str, int]):
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(_N_SNAP_BUCKETS))
        # eager checkpoint: `updates` feeds the touched-bucket probe
        # AND the merge — one computation, and the probe collect is a
        # ≤B-int scalar aggregate (sanctioned loop-control idiom)
        updates = materialize(build_updates(batch_df).withColumn("bucket", bucket))
        touched = sorted(
            r["bucket"] for r in updates.select("bucket").distinct().collect()
        )
        if not touched:
            return None  # empty batch: nothing to merge, nothing to commit
        base = {b: v for b, v in prev.items() if int(b) in touched}
        if base:
            merged = merge(
                _read_version(batch_df.sparkSession, snapshot_dir, base),
                updates.drop("bucket"),
            ).withColumn("bucket", bucket)
        else:
            merged = updates
        merged.write.partitionBy("bucket").mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v{batch_id}")
        )
        return {**prev, **{str(b): batch_id for b in touched}}

    return _snapshot_sink(snapshot_dir, write_version, keep_versions)


def make_totals_upsert(snapshot_dir: str):
    """CDC-style sink: each micro-batch merge-ADDS per-user totals
    into a parquet snapshot — the pattern for maintaining a queryable
    serving table from a stream without a table format (exactly-once
    end state: `drain`).  Exposed so tests can re-deliver a batch id
    and pin replay idempotence.

    Numeric discipline: the snapshot stores the running total as an
    exact DECIMAL STRING (`total_dec`), converted to double only by
    the reader — persisting a double and re-casting per merge would
    re-round every batch (the same trap the stateful operator's
    string-carried state avoids), so multi-batch totals stay
    bit-identical to the one-shot `dsum`.

    Uses the PARTITIONED snapshot layout: per-batch work is
    proportional to the key-buckets the batch touched, not the
    snapshot size (see `make_partitioned_additive_upsert`)."""
    return make_partitioned_additive_upsert(
        snapshot_dir, *_decimal_totals("user_id"), key="user_id"
    )


def _decimal_totals(key: str):
    """The ``(build_updates, merge)`` pair of a per-``key`` count plus
    exact decimal-string value total: each batch aggregates ``value``
    as a decimal, and partials merge by summing the decimal strings."""

    def build_updates(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(key).agg(
            F.count("*").alias("n_events"),
            F.sum(dec(F.col("value"))).cast("string").alias("total_dec"),
        )

    def merge(base: DataFrame, updates: DataFrame) -> DataFrame:
        return (
            base.unionByName(updates)
            .groupBy(key)
            .agg(
                F.sum("n_events").alias("n_events"),
                # exact decimal merge of the string partials
                F.sum(F.col("total_dec").cast("decimal(38,8)"))
                .cast("string")
                .alias("total_dec"),
            )
        )

    return build_updates, merge


def read_totals_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """CDC snapshot reader: decimal-string total → double, the same
    final conversion `dsum` performs."""
    return read_snapshot(spark, snapshot_dir).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


@query(
    "streaming_nation_hourly",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           n_name AS nation,
           COUNT(*) AS n_events, {sql_dsum('value', 'total_value')}
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1, 2
    """,
    covers=["M5-stream", "J1"],
)
def streaming_nation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer→nation dimension *inside the streaming plan*, then a
    watermarked hourly aggregate per nation — the canonical streaming
    enrichment topology (facts arrive, dims are loaded).  Driven to
    completion with availableNow, the result must equal the batch
    3-way-join SQL.

    Spark re-plans the static side per micro-batch (so a dim refresh is
    picked up on the next trigger); the broadcast hint keeps the stream
    side shuffle-free — at 100 TB/day of events the only stateful
    shuffle is the windowed aggregate, with state bounded by the
    watermark."""
    ev = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("nation"))
    # dim is customer-sized — grows with scale, so no forced broadcast;
    # the planner broadcasts while it fits and shuffle-joins beyond.
    # At true 100 TB the dim side would be pre-bucketed on c_custkey so
    # the per-micro-batch join co-locates without a stream-side shuffle.
    enriched = ev.join(dim, ev.user_id == dim.c_custkey)
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "nation")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "nation",
            "n_events",
            "total_value",
        )
    )
    return run_available_now(agg, "stream_nation_hourly_result", "complete")


def _click_attribution(ev: DataFrame, how: str) -> DataFrame:
    """Purchases joined (``how``) to the same user's clicks in the 10
    minutes up to the purchase, both sides watermarked by 1 hour — the
    stream-stream interval join of the two attribution queries."""
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        how,
    )


@query(
    "streaming_purchase_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL '10 minutes'
     AND c.ts <= p.ts
    """,
    covers=["M5-stream", "J-extended"],
)
def streaming_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the ad-attribution topology: each
    purchase joins every click by the same user in the preceding 10
    minutes, with BOTH sides arriving as streams.  This is the one
    streaming join class with two-sided state: each side buffers rows
    until the other side's watermark passes the join window, so state
    is bounded by (watermark delay + interval), never the full history.

    The event-time range condition is what makes the state prunable —
    an equi-join without it would hold both streams forever.  Driven
    to completion with availableNow, the result must equal the batch
    self-join SQL (append mode emits each matched pair exactly once).
    At 100 TB/day: per-key state lives in the state store partitioned
    by user_id; the 10-minute interval keeps resident state to minutes
    of traffic regardless of corpus age."""
    joined = _click_attribution(read_events_stream(spark, sf_dir), "inner").select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
    )
    return run_available_now(
        joined, "stream_purchase_attribution_result", "append"
    )


@query(
    "streaming_cdc_snapshot",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value', 'total_value')}
    FROM events GROUP BY user_id
    """,
    covers=["M5-stream", "X-maintenance"],
)
def streaming_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC maintenance: the event stream merge-upserts
    per-user totals into a parquet serving snapshot via ``foreachBatch``
    (`make_totals_upsert` under `drain`), and the FINAL SNAPSHOT ON
    DISK must equal the batch group-by — proving the whole loop
    (micro-batch aggregation → merge → atomic versioned commit →
    checkpointed exactly-once) ends at the same answer as one
    declarative query.

    Each call starts from an empty checkpoint + snapshot, so the run
    is deterministic; with a multi-file feed the merge genuinely runs
    once per micro-batch and the decimal-exact ``dsum`` discipline
    makes re-merged totals bit-identical to the single-pass sum."""
    snap, ckpt = _snapshot_workdir(spark, sf_dir, "cdc")
    drain(read_events_stream(spark, sf_dir), make_totals_upsert(snap), ckpt)
    return read_totals_snapshot(spark, snap)


# ------------------------------------------------------------------
# Streaming data-quality monitor: additive rule counters maintained
# per micro-batch (the streaming face of operators/quality.py)
# ------------------------------------------------------------------

# (rule name, violation predicate) in the Spark-SQL ∩ DuckDB dialect:
# ONE predicate string drives both the monitor (`F.expr`) and the
# generated oracle, so the rules cannot drift between engines.  Every
# rule is an ADDITIVE count, so per-batch counts merge by SUM and the
# final monitor state equals the batch scan.
_QUALITY_RULES: list[tuple[str, str]] = [
    ("error_events", "event_type = 'error'"),
    ("outlier_value", "value > 400.0"),
    ("null_props", "props IS NULL"),
    (
        "unknown_event_type",
        "event_type NOT IN ('click','signup','error','view','purchase')",
    ),
]


def make_quality_upsert(snapshot_dir: str):
    """The quality monitor's foreachBatch sink: each micro-batch counts
    its rule violations (one conditional-sum pass, no per-rule
    rescans) and merge-adds them into a parquet metrics snapshot — the
    live dashboard table an on-call reads.  Counts are additive and
    replay is a no-op (`drain`), so the final state equals the one-shot
    batch scan no matter how the feed was chopped into batches or where
    a restart landed.  Exposed so tests can re-deliver a batch id and
    pin replay idempotence."""

    def build_updates(batch_df: DataFrame) -> DataFrame:
        # count(when) not sum(when): COUNT of zero rows is 0 while SUM
        # is NULL — an empty micro-batch must write zeros, not NULLs
        aggs = [
            F.count(F.when(F.expr(sql), 1)).cast("bigint").alias(name)
            for name, sql in _QUALITY_RULES
        ] + [F.count("*").cast("bigint").alias("n_rows")]
        wide = batch_df.agg(*aggs)
        names = [n for n, _ in _QUALITY_RULES] + ["n_rows"]
        stack = ", ".join(f"'{n}', {n}" for n in names)
        return wide.select(
            F.expr(f"stack({len(names)}, {stack}) AS (check_name, n)")
        )

    def merge(base: DataFrame, updates: DataFrame) -> DataFrame:
        return (
            base.unionByName(updates)
            .groupBy("check_name")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )

    return make_additive_upsert(snapshot_dir, build_updates, merge)


_QMON_ORACLE = "\n    UNION ALL\n    ".join(
    f"SELECT '{name}' AS check_name,"
    f" CAST(COUNT(*) FILTER (WHERE {sql}) AS BIGINT) AS n FROM events"
    for name, sql in [*_QUALITY_RULES, ("n_rows", "TRUE")]
)


@query(
    "streaming_quality_monitor",
    oracle=_QMON_ORACLE,
    covers=["M5-stream", "S8", "A3"],
)
def streaming_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming observability: the event stream maintains
    a rule-violation metrics snapshot via ``foreachBatch``
    (`make_quality_upsert` under `drain`), and the FINAL snapshot must
    equal the one-shot batch scan — additivity + exactly-once replay
    proven the same way as `streaming_cdc_snapshot`."""
    snap, ckpt = _snapshot_workdir(spark, sf_dir, "qmon")
    drain(read_events_stream(spark, sf_dir), make_quality_upsert(snap), ckpt)
    return read_snapshot(spark, snap)


# Horizon sentinels: two far-future (purchase, click) marker pairs with
# reserved negative ids.  Event-time microseconds for 3000-01-01 and
# 3000-02-01 — beyond any data, so after both horizon batches the
# global watermark has swept every real event's join window closed.
_HORIZON_US = (32503680000000000, 32506358400000000)


def _feed_dir_with_horizon(spark: SparkSession, sf_dir: str, nanos: bool) -> str:
    """A PRIVATE stream-feed directory (never the shared `_feed_dir` —
    horizon rows must not leak into other streaming queries' feeds):
    the real event file(s) copied with ascending mtimes, then two
    horizon files whose mtimes sort last, so the file source delivers
    real data first and the horizon markers as trailing micro-batches.
    Built once per session by `session.staged_dir`: a crash mid-copy
    leaves no partial feed a retry would take for complete (a feed
    missing the horizon files silently stalls the watermark and tail
    state never flushes).

    Why horizons: outer-join results only emit when the GLOBAL
    watermark passes a row's join window.  An availableNow replay of a
    finite feed ends with the watermark still inside the final hour of
    data, so the tail's unmatched rows would never emit — exactly the
    end-of-stream problem production pipelines solve with EOS/idle-
    source watermark markers.  Two files, not one: the watermark from
    horizon batch N only takes effect in batch N+1 (the one-batch
    delay pinned by `test_watermark_drops_late_events`), so the second
    horizon batch is what flushes state swept by the first."""
    import os
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(staging: str) -> None:
        src = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(src):
            data_files = sorted(
                os.path.join(src, f)
                for f in os.listdir(src)
                if not f.startswith(("_", "."))
            )
        else:
            data_files = [src]
        now = time.time()
        # real files first (ascending mtimes, all in the past)
        for i, f in enumerate(data_files):
            dst = os.path.join(staging, f"data_{i:05d}.parquet")
            shutil.copy(f, dst)
            os.chmod(dst, 0o644)
            os.utime(dst, (now - 600 + i, now - 600 + i))
        ts_type = pa.timestamp("ns") if nanos else pa.timestamp("us")
        for h, us in enumerate(_HORIZON_US):
            ids = [-(2 * h + 1), -(2 * h + 2)]
            t = pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(
                        [us * 1000 if nanos else us] * 2, ts_type
                    ),
                    "user_id": pa.array(ids, pa.int64()),
                    "event_type": pa.array(["purchase", "click"]),
                    "value": pa.array([0.0, 0.0], pa.float64()),
                    "props": pa.array(["{}", "{}"]),
                }
            )
            path = os.path.join(staging, f"zz_horizon_{h}.parquet")
            pq.write_table(t, path)
            os.utime(path, (now - 100 + h, now - 100 + h))

    return staged_dir(spark, sf_dir, "stream_horizon", build)


def read_events_stream_with_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`read_events_stream`, but over the horizon-staged private feed.
    Callers MUST exclude the marker rows (user_id < 0) from the final
    BATCH result — never inside the streaming query: Catalyst pushes a
    post-join filter down into the parquet scan, which would skip the
    horizon rows entirely and leave the watermark stuck (measured: the
    4 tail purchases never flushed)."""
    return _events_stream(
        spark, sf_dir, lambda nanos: _feed_dir_with_horizon(spark, sf_dir, nanos)
    )


@query(
    "streaming_attribution_left_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '10 minutes'
     AND c.ts <= p.ts
    """,
    covers=["M5-stream", "J-extended"],
)
def streaming_attribution_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — attribution INCLUDING
    the organic purchases: every purchase emits, null-extended when no
    same-user click preceded it within 10 minutes.  The semantics the
    inner join (`streaming_purchase_attribution`) cannot give: outer
    rows are a STATEMENT ABOUT ABSENCE, so they may only emit once the
    global watermark proves no matching click can still arrive — state
    eviction and result emission are the same decision.

    Batch parity on a finite replay needs the end-of-stream horizon
    markers staged by `_feed_dir_with_horizon` (two trailing far-future
    batches sweep the watermark past every real join window; the
    marker rows are excluded AFTER the sink — see
    `read_events_stream_with_horizon` on why in-query filtering breaks
    the watermark via scan pushdown).  With them, the availableNow run
    equals the batch LEFT JOIN exactly (1 981 rows = 9 matched +
    1 972 null-extended at sf0.01).

    At 100 TB/day: same bounded two-sided state as the inner join
    (watermark delay + interval), plus the outer side's
    "emit-on-eviction" rows; unmatched-purchase latency is the
    watermark delay — the price of proving absence."""
    ev = read_events_stream_with_horizon(spark, sf_dir)
    joined = _click_attribution(ev, "leftOuter").select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts"
    )
    return run_available_now(
        joined, "stream_attribution_outer_result", "append"
    ).filter(F.col("user_id") >= 0)


def make_cms_upsert(snapshot_dir: str):
    """foreachBatch count-min-sketch maintenance: each micro-batch
    hashes its user_ids into the d×w counter matrix (same lanes/seeds
    as the batch `operators.sketches` CMS) and cell-SUM-merges into
    the snapshot.  CMS cells are additive counters, so the streamed
    sketch equals the one-shot batch sketch bit-for-bit no matter how
    the feed was chopped — the sketch-mergeability property exercised
    through the streaming sink.  The snapshot is ≤ d·w rows (constant),
    so the WHOLE-REWRITE writer is the right one here: the
    touched-bucket writer (`make_partitioned_additive_upsert`) pays an
    extra probe job per batch, which only a key-proportional snapshot
    earns back.  Measured on the 5-row quality snapshot (sf0.01 events
    in 10 slices, local[4] on a 4-core box, 3 alternating reps): 10
    warm batches took 4.3–4.5 s whole-rewrite, 6.5–7.1 s
    touched-bucket."""
    from edinet_etl_spark.operators.sketches import _CMS_D, _CMS_W, _hash32

    def build_updates(batch_df: DataFrame) -> DataFrame:
        buckets = F.array(
            *[
                (_hash32(F.col("key"), f"s{i}") % _CMS_W)
                for i in range(_CMS_D)
            ]
        )
        return (
            batch_df.select(F.col("user_id").cast("string").alias("key"))
            .select(F.posexplode(buckets).alias("row_id", "bucket"))
            .groupBy("row_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    def merge(base: DataFrame, updates: DataFrame) -> DataFrame:
        return (
            base.unionByName(updates)
            .groupBy("row_id", "bucket")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )

    return make_additive_upsert(snapshot_dir, build_updates, merge)


def _cms_stream_oracle() -> str:
    from edinet_etl_spark.operators.sketches import _CMS_D, _CMS_W, _sql_hash32

    cells = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_id, {_sql_hash32('key', f's{i}')} % {_CMS_W}"
        f" AS bucket FROM keys"
        for i in range(_CMS_D)
    )
    probes = "\n      UNION ALL\n".join(
        f"      SELECT key, true_cnt, {i} AS row_id,"
        f" {_sql_hash32('key', f's{i}')} % {_CMS_W} AS bucket FROM truth"
        for i in range(_CMS_D)
    )
    return f"""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    cells AS (
      SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
{cells}
      ) GROUP BY row_id, bucket
    ),
    truth AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM keys GROUP BY key
    ),
    probes AS (
{probes}
    ),
    est AS (
      SELECT p.key, p.true_cnt, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
      FROM probes p JOIN cells c ON p.row_id = c.row_id AND p.bucket = c.bucket
      GROUP BY p.key, p.true_cnt
    )
    SELECT key AS user_id, true_cnt, est_cnt FROM est
    ORDER BY true_cnt DESC, key LIMIT 10
    """


@query(
    "streaming_cms_heavy_hitters",
    oracle=_cms_stream_oracle(),
    covers=["M5-stream", "M6-sketch", "X-maintenance"],
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters via a count-min sketch maintained in a
    foreachBatch snapshot: the event stream folds into a d×w counter
    matrix per micro-batch (cell-SUM merge, replay-guarded like the
    CDC sink), and after the drain the top-10 users by EXACT count are
    probed against the STREAMED sketch — est ≥ truth by construction,
    and because CMS cells are additive and hash-deterministic, the
    streamed sketch is bit-identical to a one-shot batch sketch, so
    the whole pipeline hash-compares against a pure-batch oracle.

    At 100 TB/day this is the live top-k dashboard pattern: state is
    d·w counters (constant, broadcastable), each micro-batch adds its
    partial matrix — no per-key streaming state at all, which is the
    entire point of sketching the stream instead of counting it."""
    from edinet_etl_spark.operators.sketches import _CMS_D, _CMS_W, _hash32

    snap, ckpt = _snapshot_workdir(spark, sf_dir, "cmsstream")
    drain(read_events_stream(spark, sf_dir), make_cms_upsert(snap), ckpt)
    cms = read_snapshot(spark, snap)
    events = load(spark, sf_dir, "events")
    truth = events.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count("*").cast("bigint").alias("true_cnt")
    )
    buckets = F.array(
        *[(_hash32(F.col("key"), f"s{i}") % _CMS_W) for i in range(_CMS_D)]
    )
    probes = truth.select(
        "key", "true_cnt", F.posexplode(buckets).alias("row_id", "bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["row_id", "bucket"])
        .groupBy("key", "true_cnt")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
        .orderBy(F.desc("true_cnt"), "key")
        .limit(10)
        .select(F.col("key").alias("user_id"), "true_cnt", "est_cnt")
    )


def make_bitmap_upsert(snapshot_dir: str):
    """foreachBatch EXACT-distinct maintenance: each micro-batch folds
    its (event_type, user_id) pairs into packed int64 word bitmaps
    (the same (id >> 6, id & 63) injective decomposition as the batch
    `operators.sketches.bitmap_distinct_rollup`) and bit_or-merges
    them into the snapshot.  Unlike additive counters, bitmap state is
    IDEMPOTENT under re-delivery (x | x = x), so at-least-once
    foreachBatch delivery cannot corrupt it even without the replay
    guard — the shared skeleton's guard stays on anyway (it also skips
    the wasted rewrite).  Snapshot is one row per OCCUPIED
    (event_type, word): types · distinct_users/64 rows for a DENSE id
    space (this fixture; sparse/hashed ids need a dense remap or a
    roaring-style container — see `bitmap_distinct_rollup`), no matter
    the event volume."""

    def build_updates(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            "event_type", F.shiftright("user_id", 6).alias("word")
        ).agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id & 63 AS INT)))"
            ).alias("bits")
        )

    def merge(base: DataFrame, updates: DataFrame) -> DataFrame:
        return (
            base.unionByName(updates)
            .groupBy("event_type", "word")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )

    return make_additive_upsert(snapshot_dir, build_updates, merge)


@query(
    "streaming_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    covers=["M5-stream", "M6-sketch", "X-maintenance"],
)
def streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE exact distinct-users-per-event-type via streamed bitmap
    union — the exact sibling of `streaming_cms_heavy_hitters` (which
    bounds counts) and the streaming form of
    `bitmap_distinct_rollup`: every micro-batch's users fold into
    packed word bitmaps and bit_or-merge into a serving snapshot;
    after the drain, popcounts read off exact lifetime distincts.
    COUNT(DISTINCT) is not incrementally maintainable from counts
    alone — the bitmap is the constant-width state that makes the
    live exact-distinct dashboard possible (KMV streams but
    estimates; HLL streams but estimates; this streams and is exact).

    Because bitmap union is associative, commutative, AND idempotent,
    the streamed state equals the one-shot batch bitmap for ANY feed
    chopping or crash-replay interleaving — so the pipeline
    hash-compares against the plain batch COUNT(DISTINCT) oracle, the
    strongest correctness statement a streaming sink can make here.

    At 100 TB/day: per-batch update rows are bounded by the batch's
    occupied words, snapshot size by distinct_users/64 per type GIVEN
    a dense id space (sparse/hashed ids need a dense remap first — see
    `bitmap_distinct_rollup`); the readout never touches raw events.
    10^9 dense users × 5 types ≈ 625 MB of words — a small serving
    table maintained by pure column ops."""
    snap, ckpt = _snapshot_workdir(spark, sf_dir, "bitmapstream")
    drain(read_events_stream(spark, sf_dir), make_bitmap_upsert(snap), ckpt)
    bm = read_snapshot(spark, snap)
    return (
        bm.groupBy("event_type")
        .agg(
            F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias(
                "distinct_users"
            )
        )
        .orderBy("event_type")
    )


def snapshot_changelog(
    spark, snapshot_dir: str, key: str, from_at: int, to_at: int
) -> DataFrame:
    """CHANGE DATA FEED between two retained snapshot versions (the
    table-format CDF read, on the manifest machinery): one full-outer
    join of the two versions on the key, emitting (key, change,
    before, after) rows for inserts / deletes / updates and dropping
    identical rows — so downstream consumers can propagate a snapshot
    delta without re-reading either full version.

    Cost: BUCKET-AWARE — the two versions' manifests (bucket →
    owning-version maps) are compared on the driver first, and only
    buckets whose owning version DIFFERS are read on either side.  A
    bucket owned by the same version in both manifests references the
    exact same parquet files (untouched buckets carry forward by
    reference, never rewritten), so its full-outer diff is empty by
    construction and skipping it before any I/O is exact.  Buckets are
    keyed by hash(key) with a fixed bucket count, so a key's rows land
    in the same bucket in every version — the per-bucket diff composes
    to the global diff.  At 100 TB this is what makes CDF cheap: a
    micro-batch touching 3 of 64 buckets yields a diff that reads 3
    buckets twice, not the whole snapshot twice (a whole-rewrite
    snapshot is one bucket, so its diff reads both versions whole).
    The join is one hash shuffle per side over the surviving buckets
    only."""
    m_old = _read_manifest(snapshot_dir, from_at)
    m_new = _read_manifest(snapshot_dir, to_at)
    changed = {b for b in m_old.keys() | m_new.keys() if m_old.get(b) != m_new.get(b)}
    if not changed:
        # manifests identical ⇒ versions identical; emit an empty,
        # correctly-typed changelog with ZERO data-file scans (an
        # in-memory empty relation, not limit(0) over the parquet —
        # limit(0) still plans the file scan)
        cur = _read_version(spark, snapshot_dir, m_new)
        empty = spark.createDataFrame([], cur.schema)
        return snapshot_changelog_frame(empty, empty, key)

    def _read_changed(m: dict[str, int]) -> DataFrame | None:
        owned = {b: m[b] for b in changed if b in m}
        return _read_version(spark, snapshot_dir, owned) if owned else None

    old, new = _read_changed(m_old), _read_changed(m_new)
    # a changed bucket exists in at least one manifest, so at most
    # one side is empty (all changed buckets new / all dropped)
    if old is None:
        old = new.limit(0)
    if new is None:
        new = old.limit(0)
    return snapshot_changelog_frame(old, new, key)


def snapshot_changelog_frame(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """The version-diff kernel of `snapshot_changelog` (and of the
    full-read baseline ``tools/cdc_probe.py`` times it against):
    full-outer join on the key, classify insert/delete/update, drop
    identical rows null-safely."""
    cols = [c for c in new.columns if c != key]
    o = old.select(key, F.struct(*cols).alias("before"))
    n = new.select(key, F.struct(*cols).alias("after"))
    j = o.join(n, key, "full_outer")
    change = (
        F.when(F.col("before").isNull(), "insert")
        .when(F.col("after").isNull(), "delete")
        .otherwise("update")
    )
    return j.filter(~F.col("before").eqNullSafe(F.col("after"))).select(
        key, change.alias("change"), "before", "after"
    )


# ------------------------------------------------------------------
# Streaming point-in-time (as-of) enrichment: stream-static interval
# join against an SCD2-style version table derived from orders
# ------------------------------------------------------------------


def order_priority_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as an SCD2-style per-user version table: each (user,
    orderdate) keeps its highest-key order (the as-of tie rule), and
    LEAD(valid_from) closes the version — the static side of the
    point-in-time join."""
    od = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("valid_from"),
        "o_orderkey",
        "o_orderpriority",
    )
    w_tie = Window.partitionBy("user_id", "valid_from").orderBy(
        F.desc("o_orderkey")
    )
    best = od.withColumn("rn", F.row_number().over(w_tie)).filter(
        F.col("rn") == 1
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from")
    return best.select(
        "user_id",
        "valid_from",
        F.lead("valid_from").over(w_iv).alias("valid_to"),
        "o_orderpriority",
    )


def make_priority_upsert(snapshot_dir: str):
    """Additive merge closure for the as-of enrichment sink: per
    enriched-priority counts + decimal-string value totals (the CDC
    totals discipline, keyed by the joined dimension attribute)."""
    return make_additive_upsert(snapshot_dir, *_decimal_totals("priority"))


@query(
    "streaming_asof_enrich",
    oracle=f"""
    WITH best AS (
      SELECT o_custkey AS user_id, o_orderdate AS valid_from,
             o_orderpriority,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, o_orderdate
               ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ), iv AS (
      SELECT user_id, valid_from,
             LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from) AS valid_to,
             o_orderpriority
      FROM best WHERE rn = 1
    ), enr AS (
      SELECT COALESCE(i.o_orderpriority, 'NONE') AS priority, e.value
      FROM events e
      LEFT JOIN iv i
        ON i.user_id = e.user_id
       AND e.ts >= i.valid_from
       AND (i.valid_to IS NULL OR e.ts < i.valid_to)
    )
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 'total_value')}
    FROM enr GROUP BY priority ORDER BY priority
    """,
    covers=["M5-stream", "J-extended", "X-maintenance"],
)
def streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming POINT-IN-TIME enrichment: the event stream joins the
    SCD2-style order-version table on user + validity interval — each
    event picks up the order priority that was CURRENT at its
    event-time (never a later one: no lookahead leakage), the lookup
    a feature pipeline needs for training-serving consistency.  The
    batch as-of join (`asof_latest_order_per_event`) answers this
    offline; this is the online form, and the version-interval
    rewrite is what makes it a plain STATELESS stream-static join —
    each event matches at most one interval, so no watermark state,
    any micro-batching, same answer.

    Events before a user's first order survive as priority='NONE'
    (left join) — the enrichment must not drop cold-start traffic.

    Sink: foreachBatch additive snapshot keyed by the enriched
    attribute, counts + decimal-STRING totals (the CDC exactly-once +
    bit-exactness discipline).  Scale (both probe-measured at 10×):
    the interval table is MATERIALIZED ONCE (`materialize`)
    before the stream starts — a stream-static join re-evaluates its
    static side every micro-batch, and with maxFilesPerTrigger=1 the
    double window over orders would otherwise re-run per input file
    (measured 39× at 10× data on the 10-file layout).  The intervals
    are orders-derived, i.e. SF-GROWING, and AQE is disabled inside
    streaming micro-batches while the checkpoint hides source stats —
    so the broadcast decision is made here from the MEASURED row
    count, exactly what AQE would do with stats: broadcast while the
    table is dimension-small (unconditional broadcast measured 2×
    slower at sf1 — a fact-sized hash table rebuilt on the driver per
    micro-batch; unconditional SMJ measured 2× slower at sf0.1).
    Per-batch state touched is |priorities| rows.  At 100 TB the
    interval table would be maintained incrementally by the CDC path
    and bucketed on user_id so each micro-batch joins co-located."""
    snap, ckpt = _snapshot_workdir(spark, sf_dir, "asof_enrich")
    iv = materialize(order_priority_intervals(spark, sf_dir))
    # ~40 B/row keeps this comfortably under a 32 MB broadcast build
    iv_small = iv.count() <= 800_000
    ev = read_events_stream(spark, sf_dir)
    enriched = ev.join(
        F.broadcast(iv) if iv_small else iv,
        (iv["user_id"] == ev["user_id"])
        & (ev["ts"] >= iv["valid_from"])
        & (iv["valid_to"].isNull() | (ev["ts"] < iv["valid_to"])),
        "left",
    ).select(
        F.coalesce("o_orderpriority", F.lit("NONE")).alias("priority"),
        "value",
    )
    drain(enriched, make_priority_upsert(snap), ckpt)
    return (
        read_snapshot(spark, snap)
        .select(
            "priority",
            "n_events",
            F.col("total_dec").cast("double").alias("total_value"),
        )
        .orderBy("priority")
    )


# ------------------------------------------------------------------
# Streaming near-duplicate detection — the live twin of
# `dedup.minhash_lsh_candidates` (VERDICT r9 task 4): a document feed
# dedups incrementally against the accumulated corpus; state is the
# band→bucket signature table, maintained exactly-once through the
# same versioned-snapshot commit protocol as the CDC sink.
# ------------------------------------------------------------------

# Pair fan-in cap: an arriving document pairs with at most the FIRST
# _SND_CAP occupants (smallest doc_ids — the feed is id-ordered) of
# each band bucket it probes.  This is the incremental-LSH form of
# dedup.py's bucket salting: bounded pair work per arrival, recall
# cost only in buckets the theory already marks low-precision.  The
# cap is part of the SEMANTICS (rank ≤ cap over the full bucket), so
# the oracle expresses it exactly and stays green at every scale —
# including sf0.1, where the largest bucket (319 docs) exceeds it.
_SND_CAP = 64
_SND_CHUNKS = 4  # staged feed: id-ordered document chunks

_SND_SCHEMA = (
    "kind string, doc_id bigint, band_id int, band_hash string, "
    "rnk bigint, doc_a bigint, doc_b bigint"
)


def _docs_feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as ``_SND_CHUNKS`` id-ordered parquet
    chunk files with ascending mtimes, so the file stream source
    (maxFilesPerTrigger=1) delivers them as successive micro-batches
    in doc_id order — a real incremental feed, not one big batch.
    Id-ordered arrival is what makes state rank == doc_id rank (see
    `make_neardup_upsert`); a production feed would use arrival
    sequence for the same rank.  Built once per session by
    `session.staged_dir`."""
    import os
    import time

    def build(base: str) -> None:
        out = os.path.join(base, "build")
        (
            load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartitionByRange(_SND_CHUNKS, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(out)
        )
        feed = os.path.join(base, "feed")
        os.makedirs(feed)
        # part-00000 is range partition 0 = the smallest doc_ids; name
        # order == id order.  Distinct ascending mtimes pin the file
        # source's processing order.
        parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
        t0 = time.time() - len(parts) - 10
        for i, f in enumerate(parts):
            dst = os.path.join(feed, f"chunk-{i:03d}.parquet")
            os.replace(os.path.join(out, f), dst)
            os.utime(dst, (t0 + i, t0 + i))

    return os.path.join(staged_dir(spark, sf_dir, "docs_feed", build), "feed")


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the staged id-ordered document chunks."""
    prep(spark)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_docs_feed_dir(spark, sf_dir))
    )


def make_neardup_upsert(snapshot_dir: str):
    """foreachBatch closure for incremental LSH near-dup: per batch,
    shingle→minhash→band the NEW documents only (the batch pipeline's
    own `minhash_signatures`/`lsh_bands` — one code path for both
    modes), rank them into their band buckets after the accumulated
    occupants, emit candidate pairs (occupant, new) and (new, new)
    where the smaller side's bucket rank ≤ ``_SND_CAP``, and merge
    both the new signature rows and the new pairs into the versioned
    snapshot.  Cost per batch is O(batch × bands) signature work plus
    a join whose fan-in is ≤ cap per probed bucket — corpus×corpus
    pairs are never generated, the same asymmetry as
    `delta_dedup_against_corpus`.

    Exactly-once: the replay guard and atomic versioned commit every
    snapshot sink shares (`_snapshot_sink` / `_commit`); a re-delivered
    batch is a no-op (pinned by
    `test_neardup_upsert_replay_is_idempotent`).  Pairs are never
    double-emitted across batches even without the guard, because a
    pair is generated only in the batch where its LATER document
    arrives.

    100 TB layout: each version rewrites the whole snapshot as one
    bucket (`_write_whole`); the production spelling splits state into
    the band→bucket table under `make_partitioned_additive_upsert`
    (key = band_hash, so a batch rewrites only the buckets it touched)
    plus an append-only pair log — same manifest, same `_commit`."""
    from edinet_etl_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
    )

    def write_version(batch_df: DataFrame, batch_id: int, prev: dict[str, int]):
        spark = batch_df.sparkSession
        if prev:
            base = _read_version(spark, snapshot_dir, prev)
        else:
            base = spark.createDataFrame([], _SND_SCHEMA)
        base_sigs = base.filter(F.col("kind") == "sig")
        base_pairs = base.filter(F.col("kind") == "pair")
        occ = base_sigs.groupBy("band_id", "band_hash").agg(
            F.max("rnk").alias("n0")
        )
        w_b = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
        # bucket rank of each new row = accumulated occupancy + rank
        # within the batch (id-ordered feed ⇒ this IS the doc_id rank
        # over the full bucket).  Checkpointed: three consumers below.
        new_ranked = materialize(
            lsh_bands(minhash_signatures(batch_df))
            .withColumn("rnk_in", F.row_number().over(w_b))
            .join(occ, ["band_id", "band_hash"], "left")
            .select(
                "doc_id",
                "band_id",
                "band_hash",
                (F.coalesce("n0", F.lit(0)) + F.col("rnk_in"))
                .cast("bigint")
                .alias("rnk"),
            )
        )
        a_side = (
            base_sigs.select("doc_id", "band_id", "band_hash", "rnk")
            .unionByName(new_ranked)
            .filter(F.col("rnk") <= _SND_CAP)
        )
        # pair orientation is (least, greatest) so an out-of-arrival-
        # order feed (production) still emits every probe pair; each
        # unordered pair is generated exactly once — in the batch
        # where its LATER ARRIVAL lands (the b-side is new docs only)
        pairs_new = (
            a_side.join(
                new_ranked.select(
                    F.col("doc_id").alias("doc_b"), "band_id", "band_hash"
                ),
                ["band_id", "band_hash"],
            )
            .filter(F.col("doc_id") != F.col("doc_b"))
            .select(
                F.least("doc_id", "doc_b").alias("doc_a"),
                F.greatest("doc_id", "doc_b").alias("doc_b"),
            )
            .distinct()
        )
        nul = F.lit(None).cast("bigint")
        sig_rows = base_sigs.unionByName(
            new_ranked.select(
                F.lit("sig").alias("kind"),
                "doc_id",
                "band_id",
                "band_hash",
                "rnk",
                nul.alias("doc_a"),
                nul.alias("doc_b"),
            )
        )
        pair_rows = base_pairs.unionByName(
            pairs_new.select(
                F.lit("pair").alias("kind"),
                nul.alias("doc_id"),
                F.lit(None).cast("int").alias("band_id"),
                F.lit(None).cast("string").alias("band_hash"),
                nul.alias("rnk"),
                "doc_a",
                "doc_b",
            )
        )
        return _write_whole(sig_rows.unionByName(pair_rows), snapshot_dir, batch_id)

    return _snapshot_sink(snapshot_dir, write_version)


def _snd_oracle() -> str:
    from edinet_etl_spark.operators.dedup import (
        _SQL_BANDS,
        _SQL_MINS,
        _SQL_SHINGLES,
    )

    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         ranked AS (
           SELECT doc_id, band_id, band_hash,
                  ROW_NUMBER() OVER (
                    PARTITION BY band_id, band_hash ORDER BY doc_id
                  ) AS rnk
           FROM bands
         )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ranked a
    JOIN ranked b
      ON a.band_id = b.band_id
     AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE a.rnk <= {_SND_CAP}
    """


@query(
    "streaming_neardup_dedup",
    oracle=_snd_oracle(),
    covers=["M5-stream", "M6-dedup", "J-extended", "X-maintenance"],
)
def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING NEAR-DUP DEDUP, end to end: documents arrive as
    id-ordered micro-batches (staged multi-chunk feed), each batch is
    shingled→minhashed→banded and probed against the ACCUMULATED
    band→bucket state, candidate pairs land in the snapshot alongside
    the updated state, and the drained pair set must equal the batch
    LSH run over the same corpus — the live form of the nightly-crawl
    increment (`delta_dedup_against_corpus`), closing the streaming
    surface's dedup gap (it had exact distinct, CDC, join-view
    maintenance and sketches, but not near-dup).

    Semantics, shared with the oracle EXACTLY: a candidate is any
    same-bucket pair (a, b), a < b, where a's rank within the bucket
    (by doc_id == arrival order) is ≤ {cap} — the bounded-fan-in
    incremental-LSH rule.  At sf0.01 no bucket exceeds the cap, so
    this equals the uncapped band join; at sf0.1 the 319-doc bucket
    binds and BOTH sides still agree, because the cap is in the spec,
    not an unmodeled runtime guard.

    Scale: per-batch work = O(batch) signature hashing + a bucket
    join with fan-in ≤ {cap}; state grows O(corpus bands) (it IS the
    corpus signature index); the snapshot commit is the versioned
    atomic protocol shared with the CDC sink (partitioned-bucket form
    for 100 TB noted on `make_neardup_upsert`)."""
    snap, ckpt = _snapshot_workdir(spark, sf_dir, "neardup")
    drain(read_documents_stream(spark, sf_dir), make_neardup_upsert(snap), ckpt)
    return (
        read_snapshot(spark, snap)
        .filter(F.col("kind") == "pair")
        .select("doc_a", "doc_b")
    )


streaming_neardup_dedup.__doc__ = streaming_neardup_dedup.__doc__.format(
    cap=_SND_CAP
)
