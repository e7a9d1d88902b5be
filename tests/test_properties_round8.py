"""Invariant tests for the round-8 operators (beyond the oracle
differential): PAV fit properties, t-closeness EMD bounds, SCD2
point-in-time version correctness vs a direct CASE derivation, aHash
near-dup family recall on the synthetic image groups, and the
PPJoin-graduated ngram join's equality with its brute-force eval arm.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, query_rows


# ------------------------------------------------------------- isotonic PAV

def test_isotonic_fit_is_monotone_and_pools_correctly(spark):
    rows = sorted(query_rows(spark, "isotonic_calibration_pav"), key=lambda r: r["bin"])
    fits = [r["isotonic_rate"] for r in rows]
    # monotone non-decreasing by construction
    assert all(a <= b for a, b in zip(fits, fits[1:]))
    # each pooled level's weighted mean equals the raw weighted mean of
    # its pool (the defining PAV property): group consecutive equal fits
    i = 0
    while i < len(rows):
        j = i
        while j + 1 < len(rows) and fits[j + 1] == fits[i]:
            j += 1
        pool = rows[i : j + 1]
        n = sum(r["n"] for r in pool)
        pos = sum(r["n_pos"] for r in pool)
        assert fits[i] == pytest.approx(pos / n, abs=1e-12)
        i = j + 1
    # fit preserves total mass: sum fit_i * n_i == total positives
    assert sum(r["isotonic_rate"] * r["n"] for r in rows) == pytest.approx(
        sum(r["n_pos"] for r in rows), rel=1e-12
    )


# ------------------------------------------------------------ t-closeness

def test_t_closeness_emd_bounds_and_global_cell(spark):
    rows = query_rows(spark, "t_closeness_audit")
    assert rows
    for r in rows:
        assert 0.0 <= r["emd"] <= 1.0
        assert r["meets_t"] in (0, 1)
        assert r["meets_t"] == (1 if r["emd"] <= 0.2 else 0)
    # population is conserved across cells
    from edinet_etl_spark.tables import load

    n_cust = load(spark, SF_DIR, "customer").count()
    assert sum(r["n_individuals"] for r in rows) == n_cust


# ------------------------------------------------- SCD2 point-in-time join

def test_scd2_pit_matches_direct_case_derivation(spark):
    """The as-of join must pick exactly the version valid at the order
    date — derivable directly with a CASE over the change date."""
    from pyspark.sql import functions as F

    from edinet_etl_spark.numeric import dec, _dec_to_double
    from edinet_etl_spark.operators.temporal import _PIT_CHANGE, _PIT_NEWSEG
    from edinet_etl_spark.tables import load

    got = {
        r["segment_at_order"]: (r["n_orders"], r["revenue"])
        for r in query_rows(spark, "scd2_point_in_time_join")
    }
    orders = load(spark, SF_DIR, "orders")
    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    seg = F.when(
        (F.col("c_custkey") % 3 == 0)
        & (F.col("o_orderdate") >= F.to_timestamp(F.lit(_PIT_CHANGE))),
        F.lit(_PIT_NEWSEG),
    ).otherwise(F.col("c_mktsegment"))
    want = {
        r["segment_at_order"]: (r["n_orders"], r["revenue"])
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(seg.alias("segment_at_order"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            _dec_to_double(F.sum(dec(F.col("o_totalprice")))).alias("revenue"),
        )
        .collect()
    }
    assert got == want


# ------------------------------------------------------ image aHash dedup

def test_image_ahash_families_pair_up(spark):
    """Docs in the same synthetic image family (doc_id stride groups)
    differ by ONE pixel — every family pair must surface at a small
    Hamming distance, and no pair may exceed the declared radius."""
    from edinet_etl_spark.operators.multimodal import (
        _AHASH_GROUPS,
        _AHASH_MAXHAM,
    )
    from edinet_etl_spark.tables import load

    rows = query_rows(spark, "image_ahash_neardup")
    assert rows
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert all(r["hamming"] <= _AHASH_MAXHAM for r in rows)
    doc_ids = [
        r["doc_id"]
        for r in load(spark, SF_DIR, "documents").select("doc_id").collect()
    ]
    by_group: dict[int, list[int]] = {}
    for d in doc_ids:
        by_group.setdefault(d % _AHASH_GROUPS, []).append(d)
    n_family_pairs = 0
    n_found = 0
    for g, members in by_group.items():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                n_family_pairs += 1
                if (members[i], members[j]) in pairs:
                    n_found += 1
    # one-pixel perturbations keep block means within threshold almost
    # always; require near-total family recall
    assert n_found / n_family_pairs >= 0.95


# --------------------------------------- PPJoin graduation: completeness

def test_ngram_production_equals_allpairs_eval(spark):
    """The prefix-filtered production form and the brute-force eval arm
    must return the IDENTICAL pair set with identical jaccards — the
    zero-false-negative guarantee, checked directly (the driver checks
    it against DuckDB; this checks the two Spark plans against each
    other)."""
    prod = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in query_rows(spark, "ngram_jaccard_pairs")
    }
    base = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in query_rows(spark, "ngram_jaccard_allpairs_eval")
    }
    assert prod == base


# ------------------------------------------------- bucketed join audit

def test_bucketed_audit_reports_zero_exchanges(spark):
    rows = query_rows(spark, "bucketed_colocated_join_audit")
    assert rows and all(r["n_exchanges_under_join"] == 0 for r in rows)


# ------------------------------------------- interval union coverage

def test_interval_union_matches_bruteforce(spark):
    """The sweep's island merge equals per-day set expansion on a
    seeded synthetic interval set (overlaps, nesting, duplicates,
    singletons)."""
    import random

    from edinet_etl_spark.operators.temporal import interval_union_per_key

    rng = random.Random(8)
    rows = []
    for i in range(300):
        k = rng.randrange(5)
        s = rng.randrange(100)
        e = s + rng.randrange(12)
        rows.append((k, i, s, e))
    rows.extend([(9, 1000, 7, 7), (9, 1001, 7, 7)])  # duplicate points
    spans = spark.createDataFrame(rows, "k long, ok long, s long, e long")
    per_island = interval_union_per_key(spans).collect()
    agg = {}
    for r in per_island:
        a = agg.setdefault(r["k"], {"covered": 0, "islands": 0, "spans": 0})
        a["covered"] += r["i_end"] - r["i_start"] + 1
        a["islands"] += 1
        a["spans"] += r["n_spans"]
    brute = {}
    for k, _, s, e in rows:
        brute.setdefault(k, set()).update(range(s, e + 1))
    for k, days in brute.items():
        assert agg[k]["covered"] == len(days), k
        # island count = number of maximal runs in the day set
        runs = sum(1 for d in days if d - 1 not in days)
        assert agg[k]["islands"] == runs, k
    assert sum(a["spans"] for a in agg.values()) == len(rows)
    # the (k, s)-cell pre-collapse (cnt path) is loss-free: same
    # coverage, same islands, same total span count
    from pyspark.sql import functions as F

    cells = (
        spans.groupBy("k", "s")
        .agg(F.max("e").alias("e"), F.count("*").cast("bigint").alias("cnt"))
        .withColumn("ok", F.col("s"))
    )
    agg2 = {}
    for r in interval_union_per_key(cells).collect():
        a = agg2.setdefault(r["k"], {"covered": 0, "islands": 0, "spans": 0})
        a["covered"] += r["i_end"] - r["i_start"] + 1
        a["islands"] += 1
        a["spans"] += r["n_spans"]
    assert agg2 == agg


# ------------------------------------------- bitmap distinct rollup

def test_bitmap_distinct_equals_count_distinct(spark):
    from pyspark.sql import functions as F

    from edinet_etl_spark.tables import load

    rows = query_rows(spark, "bitmap_distinct_rollup")
    ev = load(spark, SF_DIR, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    truth = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("du"),
            F.countDistinct("day", "user_id").alias("ud"),
        )
        .collect()
    }
    assert len(rows) == len(truth)
    for r in rows:
        t = truth[r["event_type"]]
        assert r["distinct_users"] == t["du"]
        assert r["user_days"] == t["ud"]
        assert r["revisit_factor"] == t["ud"] / t["du"]


def test_bitmap_word_bit_mapping_injective_for_negatives(spark):
    """(id >> 6, id & 63) must decompose int64 injectively, negatives
    included — popcount over bit_or'd words equals true distinct."""
    from pyspark.sql import functions as F

    ids = list(range(-130, 131, 3)) + [-(1 << 40), 1 << 40, -64, -1, 0, 63, 64]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    n = (
        df.groupBy(F.shiftright("user_id", 6).alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id & 63 AS INT)))"
            ).alias("bits")
        )
        .agg(F.expr("SUM(bit_count(bits))").alias("n"))
        .collect()[0]["n"]
    )
    assert n == len(set(ids))


# ------------------------------------------- Nelson-Aalen hazard

def test_nelson_aalen_invariants_and_km_grid_parity(spark):
    from decimal import ROUND_HALF_UP, Decimal

    rows = sorted(query_rows(spark, "nelson_aalen_hazard"), key=lambda r: r["time_days"])
    assert rows
    # increments are d/n; cumulative hazard is the quantized running sum
    q = Decimal("1e-8")
    total = Decimal(0)
    prev = -1.0
    for r in rows:
        assert r["hazard_increment"] == r["n_events_at"] / r["n_at_risk"]
        total += Decimal(repr(r["hazard_increment"])).quantize(q, ROUND_HALF_UP)
        assert r["cum_hazard"] == float(str(total))
        assert r["cum_hazard"] >= prev
        prev = r["cum_hazard"]
    # same event grid as the KM estimator (shared risk CTE)
    km = {r["time_days"]: r for r in query_rows(spark, "kaplan_meier_conversion")}
    assert set(km) == {r["time_days"] for r in rows}
    for r in rows:
        assert km[r["time_days"]]["n_at_risk"] == r["n_at_risk"]


def test_rolling_bitmap_matches_user_grain_variant(spark):
    """Same semantics, different algebra: the word-bitmap WAU plan and
    the (user, day) contribution-explode plan agree row-for-row."""
    a = sorted(
        (r["day"], r["active_users_7d"])
        for r in query_rows(spark, "rolling_7d_active_bitmap")
    )
    b = sorted(
        (r["day"], r["active_users_7d"])
        for r in query_rows(spark, "rolling_7d_active_users")
    )
    assert a == b


# ------------------------------------------- audio silence segments

def test_silence_kernel_on_crafted_payload(spark):
    """Hand-built payload with known silence geometry: 2 leading
    silent frames, 1 loud frame, 1 silent, 1 loud, 1 silent tail."""
    import pandas as pd

    from edinet_etl_spark.operators.multimodal import (
        _AUDIO_BIAS,
        _VAD_FRAME,
        _silence_batches,
    )

    quiet = bytes([_AUDIO_BIAS]) * _VAD_FRAME          # energy 0
    loud = bytes([_AUDIO_BIAS + 100]) * _VAD_FRAME     # energy 320k
    payload = quiet + quiet + loud + quiet + loud + quiet[: _VAD_FRAME // 2]
    [res] = list(
        _silence_batches(
            iter([pd.DataFrame({"doc_id": [7], "payload": [payload]})])
        )
    )
    r = res.iloc[0]
    assert r["n_frames"] == 6
    assert r["silent_frames"] == 4
    assert r["n_silence_segments"] == 3
    assert r["longest_silence"] == 2
    assert r["leading_silence"] == 2
    assert r["silence_ratio"] == 4 / 6
    # empty payload emits nothing (oracle parity)
    [empty] = list(
        _silence_batches(
            iter([pd.DataFrame({"doc_id": [8], "payload": [b""]})])
        )
    )
    assert len(empty) == 0
