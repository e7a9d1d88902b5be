"""Structured Streaming parity tests (SURVEY.md §5, M5).

Each streaming job is driven to completion with availableNow and its
materialized output compared against the equivalent *batch* DataFrame
expression — the batch/stream parity Structured Streaming promises.
The oracle-vs-Spark check for the same jobs runs in
test_queries_oracle.py through the registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edinet_etl_spark.streaming import jobs
from edinet_etl_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark):
    ev = jobs.read_events_stream(spark, SF_DIR)
    out = jobs.run_available_now(
        jobs.tumbling_hourly_stream(ev), "t_tumbling", "complete"
    )
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    cols = ["window_start", "event_type", "n"]
    assert _rows(out.select(*cols), cols) == _rows(batch, cols)


def test_streaming_sessions_equal_batch(spark):
    ev = jobs.read_events_stream(spark, SF_DIR)
    out = jobs.run_available_now(
        jobs.user_sessions_stream(ev), "t_sessions", "complete"
    )
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(out.select(*cols), cols) == _rows(batch, cols)


def test_streaming_dedup_passes_unique_events(spark):
    ev = jobs.read_events_stream(spark, SF_DIR)
    out = jobs.run_available_now(jobs.dedup_stream(ev), "t_dedup", "append")
    n_events = load(spark, SF_DIR, "events").count()
    distinct_ids = (
        load(spark, SF_DIR, "events").select("event_id").distinct().count()
    )
    assert out.count() == distinct_ids <= n_events


def test_streaming_stateful_totals_equal_batch(spark):
    """applyInPandasWithState running totals == batch groupBy, value
    sums bit-identical thanks to the shared decimal discipline."""
    from edinet_etl_spark.numeric import dsum

    ev = jobs.read_events_stream(spark, SF_DIR)
    out = jobs.run_available_now(
        jobs.user_totals_stream(ev), "t_totals", "update"
    )
    w_cols = ["user_id", "n_events", "total_value"]
    # update mode may emit a row per key per batch; keep final (max n)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*w_cols)
    )
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "total_value"))
    )
    assert _rows(final, w_cols) == _rows(batch, w_cols)


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Exactly-once across restarts: run the windowed agg with a
    checkpoint, stop, start again from the same checkpoint — the
    second run must replay nothing (no new data) and the sink must
    hold each window exactly once."""
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        ev = jobs.read_events_stream(spark, SF_DIR)
        agg = jobs.tumbling_hourly_stream(ev)
        return (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    q1.awaitTermination()
    n1 = spark.read.parquet(out_dir).count()
    q2 = start()  # restart from the same checkpoint: nothing new
    q2.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == n1
    # each (window, event_type) appears exactly once
    dups = (
        got.groupBy("window_start", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: an event arriving after the watermark has
    closed its window must NOT be aggregated (append mode).  Two feed
    files processed as separate micro-batches (maxFilesPerTrigger=1):
    batch 1 establishes watermark past the first window's end; batch 2
    delivers a late event into that window plus a fresh event."""
    import glob
    import os
    import shutil
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    feed = tmp_path / "feed"
    feed.mkdir()

    def ns(hhmm: str) -> int:
        dt = datetime.fromisoformat(f"2024-01-01 {hhmm}:00+00:00")
        return int(dt.timestamp() * 1_000_000_000)

    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_feed_file(name: str, rows, mtime: int):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = feed / name
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # batch 1: window [10:00,10:10) gets 2 events; 10:29 drives the
    # watermark to 10:19 (> 10:10) after the batch
    write_feed_file(
        "f1.parquet",
        [(1, ns("10:00"), 1, "c", 1.0, "{}"),
         (2, ns("10:05"), 1, "c", 1.0, "{}"),
         (3, ns("10:29"), 1, "c", 1.0, "{}")],
        mtime=1_700_000_000,
    )
    # batch 2: on-time filler — Spark applies the late-event filter
    # with the watermark of the PREVIOUS batch's input (one-batch
    # delay), so the 10:19 watermark becomes effective for batch 3
    write_feed_file(
        "f2.parquet",
        [(4, ns("10:31"), 1, "c", 1.0, "{}")],
        mtime=1_700_000_100,
    )
    # batch 3: event 5 is LATE into the closed [10:00,10:10) window
    write_feed_file(
        "f3.parquet",
        [(5, ns("10:02"), 1, "c", 1.0, "{}"),
         (6, ns("11:00"), 1, "c", 1.0, "{}")],
        mtime=1_700_000_200,
    )

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
        .select(
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "event_id",
        )
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_late").collect()
    first_window = [
        r["n"] for r in rows if r["window_start"].strftime("%H:%M") == "10:00"
    ]
    # the closed 10:00 window emitted exactly once, WITHOUT the late
    # event (no re-open, no second emission)
    assert first_window == [2], rows
    # drop ACCOUNTING: the runtime's own counters must attribute the
    # late event — at scale this progress metric (the same number the
    # UI shows) is how an operator discovers silent data loss, so pin
    # that it actually fires rather than trusting output-side absence
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1, [p.get("stateOperators") for p in q.recentProgress]


def test_foreachbatch_upsert_snapshot(spark, tmp_path):
    """Streaming foreachBatch upsert: after the stream drains, the
    parquet snapshot's per-user totals equal the batch aggregation.
    (Totals are decimal-summed per micro-batch then decimal-merged, so
    the value column is bit-identical to the one-shot batch sum.)"""
    from edinet_etl_spark.numeric import dsum
    from edinet_etl_spark.tables import load

    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    ev = jobs.read_events_stream(spark, SF_DIR)
    jobs.drain(ev, jobs.make_totals_upsert(snap), ckpt)
    got = jobs.read_totals_snapshot(spark, snap)
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "total_value"))
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(got.select(*cols), cols) == _rows(batch, cols)


def test_foreachbatch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch re-delivered after a
    crash (same batch_id) must NOT double-count.  Pins the replay
    guard on the committed CURRENT pointer for the five additive
    sinks."""
    from edinet_etl_spark.tables import load

    ev = load(spark, SF_DIR, "events").limit(100)

    # quality monitor: replay batch 0, then a genuine batch 1
    snap_q = str(tmp_path / "qsnap")
    upsert_q = jobs.make_quality_upsert(snap_q)
    upsert_q(ev, 0)
    first = {r["check_name"]: r["n"] for r in jobs.read_snapshot(spark, snap_q).collect()}
    upsert_q(ev, 0)  # re-delivery: must be a no-op
    replay = {r["check_name"]: r["n"] for r in jobs.read_snapshot(spark, snap_q).collect()}
    assert replay == first
    upsert_q(ev, 1)  # new batch: must add
    second = {r["check_name"]: r["n"] for r in jobs.read_snapshot(spark, snap_q).collect()}
    assert second["n_rows"] == 2 * first["n_rows"]

    # CDC totals: same contract
    snap_c = str(tmp_path / "csnap")
    upsert_c = jobs.make_totals_upsert(snap_c)
    upsert_c(ev, 0)
    base = {r["user_id"]: r["n_events"] for r in jobs.read_snapshot(spark, snap_c).collect()}
    upsert_c(ev, 0)
    assert {
        r["user_id"]: r["n_events"] for r in jobs.read_snapshot(spark, snap_c).collect()
    } == base

    # CMS, bitmap and as-of priority sinks: a replay is a no-op, and a
    # genuine batch 1 lands exactly as one batch of both would
    b1 = load(spark, SF_DIR, "events").filter(F.col("user_id") % 3 == 0)

    def as_priority(df):
        return df.select(F.col("event_type").alias("priority"), "value")

    def rows(snap):
        return sorted(tuple(r) for r in jobs.read_snapshot(spark, snap).collect())

    for name, make, shape in [
        ("cms", jobs.make_cms_upsert, lambda df: df),
        ("bitmap", jobs.make_bitmap_upsert, lambda df: df),
        ("priority", jobs.make_priority_upsert, as_priority),
    ]:
        snap = str(tmp_path / name)
        upsert = make(snap)
        upsert(shape(ev), 0)
        first = rows(snap)
        upsert(shape(ev), 0)  # re-delivery: must be a no-op
        assert rows(snap) == first, name
        upsert(shape(b1), 1)
        one_shot = str(tmp_path / f"{name}_one_shot")
        make(one_shot)(shape(ev.unionByName(b1)), 0)
        assert rows(snap) == rows(one_shot), name


def test_whole_rewrite_snapshot_reads_by_version(spark, tmp_path):
    """One snapshot protocol: a whole-rewrite sink (the quality monitor)
    commits a bucket manifest like the partitioned one, so its CURRENT
    version also reads by number (``at=``), and a snapshot with no
    committed version raises FileNotFoundError naming its dir."""
    import json
    import os
    import re

    ev = load(spark, SF_DIR, "events").limit(100)
    snap = str(tmp_path / "qsnap")
    upsert = jobs.make_quality_upsert(snap)
    upsert(ev, 0)
    upsert(ev, 1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(jobs.read_snapshot(spark, snap, at=1)) == rows(
        jobs.read_snapshot(spark, snap)
    )
    assert sorted(os.listdir(snap)) == ["CURRENT", "v1"]
    assert json.load(open(os.path.join(snap, "v1", "MANIFEST.json"))) == {"0": 1}
    with pytest.raises(FileNotFoundError):  # outside the one-version window
        jobs.read_snapshot(spark, snap, at=0)
    never = str(tmp_path / "never")
    with pytest.raises(FileNotFoundError, match=re.escape(never)):
        jobs.read_snapshot(spark, never)


def test_partitioned_snapshot_touched_only(spark, tmp_path):
    """The partitioned CDC snapshot rewrites ONLY the buckets a batch
    touches: after a second batch confined to one user, every
    untouched bucket's manifest entry must still point at v0 and its
    v0 parquet files must be byte-for-byte untouched on disk (carried
    forward by reference — the per-batch cost law is
    O(touched buckets), not O(snapshot))."""
    import json
    import os

    from edinet_etl_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    snap = str(tmp_path / "snap")
    upsert = jobs.make_totals_upsert(snap)
    upsert(ev, 0)

    man0 = json.load(open(os.path.join(snap, "v0", "MANIFEST.json")))
    assert set(man0.values()) == {0}
    base = {
        r["user_id"]: (r["n_events"], r["total_dec"])
        for r in jobs.read_snapshot(spark, snap).collect()
    }
    # record v0's on-disk state per bucket (path, mtime, size)
    def bucket_files(vdir):
        out = {}
        for b in os.listdir(vdir):
            if b.startswith("bucket="):
                d = os.path.join(vdir, b)
                out[b] = sorted(
                    (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                )
        return out
    v0_before = bucket_files(os.path.join(snap, "v0"))

    # batch 1: a single user → exactly one touched bucket
    one_user = ev.filter(F.col("user_id") == 7)
    n_new = one_user.count()
    assert n_new > 0
    upsert(one_user, 1)

    man1 = json.load(open(os.path.join(snap, "v1", "MANIFEST.json")))
    touched = [b for b, v in man1.items() if v == 1]
    assert len(touched) == 1
    # every untouched bucket still points at v0, files bit-untouched
    assert {b: v for b, v in man1.items() if v != 1} == {
        b: v for b, v in man0.items() if b not in touched
    }
    v0_after = bucket_files(os.path.join(snap, "v0"))
    for b, files in v0_before.items():
        if f"bucket={touched[0]}" != b:
            assert v0_after[b] == files
    # and v1 wrote ONLY the touched bucket
    assert list(bucket_files(os.path.join(snap, "v1"))) == [f"bucket={touched[0]}"]

    # merged totals: touched user advanced, everyone else unchanged
    got = {
        r["user_id"]: (r["n_events"], r["total_dec"])
        for r in jobs.read_snapshot(spark, snap).collect()
    }
    assert got[7][0] == base[7][0] + n_new
    for u, v in base.items():
        if u != 7:
            assert got[u] == v


def test_partitioned_snapshot_time_travel(spark, tmp_path):
    """keep_versions retains a time-travel window: after three batches,
    reading `at=` each historical version reconstructs that version's
    exact state from retained bucket pointers; versions that fell out
    of the window raise."""
    import pytest as _pytest

    from edinet_etl_spark.numeric import dec

    def build_updates(batch_df):
        return batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(dec(F.col("value"))).cast("string").alias("total_dec"),
        )

    def merge(base, updates):
        return (
            base.unionByName(updates)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum(F.col("total_dec").cast("decimal(38,8)"))
                .cast("string")
                .alias("total_dec"),
            )
        )

    snap = str(tmp_path / "tt")
    upsert = jobs.make_partitioned_additive_upsert(
        snap, build_updates, merge, key="user_id", keep_versions=2
    )
    ev = load(spark, SF_DIR, "events")
    b0 = ev.filter(F.col("user_id") < 50)
    b1 = ev.filter(F.col("user_id") == 7)
    b2 = ev.filter(F.col("user_id") == 9)

    def state(df):
        return {r["user_id"]: r["n_events"] for r in df.collect()}

    upsert(b0, 0)
    s0 = state(jobs.read_snapshot(spark, snap))
    upsert(b1, 1)
    s1 = state(jobs.read_snapshot(spark, snap))
    upsert(b2, 2)

    # window = 2: versions 1 and 2 retained, version 0 pruned
    assert state(jobs.read_snapshot(spark, snap, at=1)) == s1
    assert state(jobs.read_snapshot(spark, snap, at=2)) == state(
        jobs.read_snapshot(spark, snap)
    )
    with _pytest.raises(FileNotFoundError):
        jobs.read_snapshot(spark, snap, at=0)
    # beyond the committed pointer (the crash window between version
    # write and pointer commit) must also refuse
    with _pytest.raises(FileNotFoundError):
        jobs.read_snapshot(spark, snap, at=99)
    # the historical read is real: version 1 differs from 2 on key 9
    assert state(jobs.read_snapshot(spark, snap, at=1))[9] != state(
        jobs.read_snapshot(spark, snap, at=2)
    )[9]
    assert s0[7] != s1[7]

    # change data feed between retained versions: exactly the touched
    # key surfaces, as an update with correct before/after counts
    cdf_df = jobs.snapshot_changelog(spark, snap, "user_id", 1, 2)
    cdf = cdf_df.collect()
    assert len(cdf) == 1
    row = cdf[0]
    assert row["user_id"] == 9 and row["change"] == "update"
    assert row["after"]["n_events"] > row["before"]["n_events"]

    # bucket-aware CDF pruning: the diff's scan must touch ONLY the
    # buckets whose owning version differs between the two manifests
    # (batch 2 touched exactly user 9's bucket), never the whole
    # snapshot — inputFiles() is the planned scan set
    m1 = jobs._read_manifest(snap, at=1)
    m2 = jobs._read_manifest(snap, at=2)
    changed = {b for b in m1.keys() | m2.keys() if m1.get(b) != m2.get(b)}
    assert len(changed) == 1
    read_buckets = {
        seg.split("=", 1)[1]
        for f in cdf_df.inputFiles()
        for seg in f.split("/")
        if seg.startswith("bucket=")
    }
    assert read_buckets == changed
    # identical versions ⇒ identical manifests ⇒ empty diff with NO
    # data I/O at all
    same = jobs.snapshot_changelog(spark, snap, "user_id", 2, 2)
    assert same.count() == 0 and same.inputFiles() == []


def test_join_view_delta_algebra_across_batches(spark, tmp_path):
    """The streaming join-view state update is the PRODUCT-RULE delta
    algebra (pairs += dv·P + V·dp + dv·dp) — this test forces THREE
    micro-batches (maxFilesPerTrigger=1 over three feed files split by
    event_id) so the cross-batch terms are genuinely exercised, then
    checks the final view equals the one-shot batch join view
    bit-for-bit (the incremental_join_maintenance merge contract,
    live)."""
    import glob
    import shutil

    from edinet_etl_spark.numeric import dec, _dec_to_double

    ev_batch = load(spark, SF_DIR, "events")
    feed = tmp_path / "jv_feed"
    feed.mkdir()
    # split by event_id thirds — arbitrary, uneven per user, which is
    # the point: every user's (view, purchase) arrivals straddle batches
    ids = [r[0] for r in ev_batch.select("event_id").collect()]
    ids.sort()
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    conds = [
        F.col("event_id") <= cuts[0],
        (F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1]),
        F.col("event_id") > cuts[1],
    ]
    for i, c in enumerate(conds):
        stage = tmp_path / f"jv_stage_{i}"
        ev_batch.filter(c).coalesce(1).write.parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, feed / f"f{i}.parquet")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    out = jobs.run_available_now(
        jobs.join_view_stream(raw), "t_join_view_multi", "update"
    )
    # three batches ⇒ keys emitted up to 3× — prove it was multi-batch
    assert out.count() > out.select("user_id").distinct().count()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc(F.col("n_view") + F.col("n_purchase"))
    )
    cols = ["user_id", "n_view", "n_purchase", "n_pairs", "pair_value_sum"]
    final = (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*cols)
    )
    is_v = (F.col("event_type") == "view").cast("long")
    is_p = (F.col("event_type") == "purchase").cast("long")
    batch = ev_batch.groupBy("user_id").agg(
        F.sum(is_v).alias("n_view"),
        F.sum(is_p).alias("n_purchase"),
        (F.sum(is_v) * F.sum(is_p)).alias("n_pairs"),
        _dec_to_double(
            F.sum(is_v)
            * F.coalesce(
                F.sum(F.when(is_p == 1, dec(F.col("value")))),
                F.lit(0).cast("decimal(18,8)"),
            )
        ).alias("pair_value_sum"),
    )
    assert _rows(final, cols) == _rows(batch, cols)


def test_bitmap_upsert_merge_is_idempotent(spark):
    """Bitmap state survives at-least-once re-delivery even WITHOUT
    the replay guard: merging the same update twice equals merging it
    once (x | x = x), unlike additive counter sinks."""
    from pyspark.sql import functions as F

    from edinet_etl_spark.tables import load
    from tests.conftest import SF_DIR

    ev = load(spark, SF_DIR, "events").select("event_type", "user_id")
    updates = ev.groupBy(
        "event_type", F.shiftright("user_id", 6).alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT)))"
        ).alias("bits")
    )

    def merge(base, upd):
        return (
            base.unionByName(upd)
            .groupBy("event_type", "word")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )

    once = {(r["event_type"], r["word"]): r["bits"] for r in updates.collect()}
    twice = {
        (r["event_type"], r["word"]): r["bits"]
        for r in merge(updates, updates).collect()
    }
    assert once == twice


def test_neardup_upsert_replay_is_idempotent(spark, tmp_path):
    """The streaming near-dup sink under at-least-once re-delivery:
    a replayed batch (same batch_id) must change NOTHING — neither the
    band→bucket state rows nor the accumulated candidate pairs — and a
    genuine next batch must pair its docs against the state, with the
    drained pair set equal to the capped batch-LSH spec over the union
    of both batches (the same spec `streaming_neardup_dedup`'s oracle
    replays in SQL)."""
    from edinet_etl_spark.tables import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    snap = str(tmp_path / "ndsnap")
    upsert = jobs.make_neardup_upsert(snap)

    def state():
        rows = jobs.read_snapshot(spark, snap).collect()
        sigs = {
            (r["doc_id"], r["band_id"], r["band_hash"], r["rnk"])
            for r in rows
            if r["kind"] == "sig"
        }
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows if r["kind"] == "pair"}
        return sigs, pairs

    upsert(b0, 0)
    first = state()
    upsert(b0, 0)  # re-delivery: must be a no-op
    assert state() == first
    upsert(b1, 1)  # genuine next batch: pairs against state + itself
    sigs, pairs = state()
    assert len(sigs) > len(first[0])
    assert pairs >= first[1]
    upsert(b1, 1)  # replay of the second batch too
    assert state() == (sigs, pairs)

    # deliberately OUT-OF-ARRIVAL-ORDER feed (odd ids arrived after
    # even): with the cap inactive at this scale (max sf0.01 bucket =
    # 32 < _SND_CAP) the drained pair set must STILL equal the batch
    # band join over the union — arrival order only matters when the
    # fan-in cap binds
    from edinet_etl_spark.operators.dedup import lsh_bands, minhash_signatures

    bands = lsh_bands(minhash_signatures(docs))
    a = bands.select(F.col("doc_id").alias("da"), "band_id", "band_hash")
    b = bands.select(F.col("doc_id").alias("db"), "band_id", "band_hash")
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, ["band_id", "band_hash"])
        .filter(F.col("da") < F.col("db"))
        .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"))
        .distinct()
        .collect()
    }
    assert pairs == expected
