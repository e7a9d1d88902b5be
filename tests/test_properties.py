"""Property-based tests (SURVEY.md §5 strategy #4): invariants the
DuckDB oracle can't express, checked against independent Python models
over hypothesis-generated inputs.

- A1 best-filing dedup == the reference's literal dict semantics
  (``/root/reference/src/transform.py:133``: overwrite on every '130',
  insert-if-absent otherwise) for ANY arrival sequence — both the
  window over filing rows and the winners-first walker over docs, some
  of which fail to download or hold no filing.
- the generic as-of join == a quadratic-scan Python model for ANY
  (events, orders) shape, including empty sides and heavy key ties.
- ``dsum`` is bit-identical under row reorder + repartition and equals
  an exact-decimal Python model (the 1000-executor reassociation
  guarantee SCALE.md claims).

Examples are capped small: each example runs real Spark jobs.
"""

from __future__ import annotations

import decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import dsum
from edinet_etl_spark.operators.temporal import asof_join
from edinet_etl_spark.pipeline.transform import best_filing_facts, select_best_filings
from edinet_etl_spark.sources.edinet_api import Fetcher, RetryPolicy
from tests.fixtures.gen import _filing_csv_bytes, _zip_bytes
import pytest

pytestmark = pytest.mark.deep  # inner loop: -m "not deep" (see pytest.ini)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------- A1
_filing = st.tuples(
    st.sampled_from(["2024-01-01", "2024-01-02", "2024-01-03"]),  # list date
    st.sampled_from(["E01", "E02", "E03"]),          # company
    st.sampled_from(["120", "130", "140"]),          # doc type
)


@given(st.lists(_filing, min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_select_best_filings_matches_reference_dict_model(spark, filings):
    # docIDs follow generation order, dates are drawn: arrival order
    # (date_str, docID) then crosses days in any pattern
    rows = [
        (date_str, f"D{i:02d}", company, dtype, "csv", b"")
        for i, (date_str, company, dtype) in enumerate(filings)
    ]
    df = spark.createDataFrame(
        rows,
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, member_bytes binary",
    )
    got = {r["edinetCode"]: r["docID"] for r in select_best_filings(df).collect()}
    # the reference's loop, verbatim semantics, in arrival order
    model: dict[str, str] = {}
    for date_str, doc_id, company, dtype, _, _ in sorted(rows):
        if company not in model or dtype == "130":
            model[company] = doc_id
    assert got == model


class _OutcomeFetcher(Fetcher):
    """Serves each doc by its drawn outcome and counts every call in
    ``calls`` (a Spark accumulator): 'ok' is a filing with one revenue
    fact, 'no_parse' a filing without a fiscal year, 'no_member' a ZIP
    with no .csv member, and 'fail' raises OSError on every attempt."""

    def __init__(self, outcomes: dict[str, str], calls):
        self.outcomes = outcomes
        self.calls = calls

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        self.calls.add(1)
        outcome = self.outcomes[doc_id]
        if outcome == "fail":
            raise OSError(f"permanent failure for {doc_id}")
        if outcome == "no_member":
            return _zip_bytes({"notes.txt": b"no filing"})
        rows = [["jpcrp_cor:NetSales", "CurrentYearDuration", "1", "JPY"]] * 2
        if outcome == "ok":
            rows.append(["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant", "2024-03-31", None])
        return _zip_bytes({"filing.csv": _filing_csv_bytes(rows)})


_outcome = st.sampled_from(["ok", "ok", "no_parse", "no_member", "fail"])


@given(st.lists(st.tuples(_filing, _outcome), min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_best_filing_facts_matches_reference_dict_model(spark, docs):
    """The walker keeps the reference's winner among the docs that yield
    a filing, emits facts only for a winner that parses, and fetches
    each company's docs in A1 order up to its winner and none after.
    Two-row Arrow batches split companies across batches."""
    rows = [
        (date_str, f"D{i:02d}", company, dtype, "csv", "5")
        for i, ((date_str, company, dtype), _) in enumerate(docs)
    ]
    outcomes = {f"D{i:02d}": outcome for i, (_, outcome) in enumerate(docs)}
    df = spark.createDataFrame(
        rows,
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, api_type string",
    )
    calls = spark.sparkContext.accumulator(0)
    policy = RetryPolicy(max_retries=1, retry_delay=0.0001, requests_per_second=0)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        facts = best_filing_facts(df, _OutcomeFetcher(outcomes, calls), policy, 2).collect()
    finally:
        spark.conf.set(key, prev)

    # the reference's loop over the docs that yield a filing, in arrival order
    model: dict[str, str] = {}
    for date_str, doc_id, company, dtype, *_ in sorted(rows):
        if outcomes[doc_id] in ("ok", "no_parse") and (company not in model or dtype == "130"):
            model[company] = doc_id
    assert {(r["edinetCode"], r["docID"]) for r in facts} == {
        (c, d) for c, d in model.items() if outcomes[d] == "ok"
    }
    # calls: each company's docs best first (130s latest first, then the
    # rest earliest first) up to its first filing; a failing doc is
    # tried once per attempt
    by_company: dict[str, list] = {}
    for row in sorted(rows):
        by_company.setdefault(row[2], []).append(row)
    expected_calls = 0
    for company_rows in by_company.values():
        ranked = [r for r in reversed(company_rows) if r[3] == "130"]
        ranked += [r for r in company_rows if r[3] != "130"]
        for row in ranked:
            outcome = outcomes[row[1]]
            expected_calls += policy.max_retries + 1 if outcome == "fail" else 1
            if outcome in ("ok", "no_parse"):
                break
    assert calls.value == expected_calls


# ------------------------------------------------------------- as-of
_times = st.integers(min_value=0, max_value=20)
_keys = st.integers(min_value=0, max_value=2)


@given(
    st.lists(st.tuples(_keys, _times), min_size=0, max_size=8),   # events
    st.lists(st.tuples(_keys, _times), min_size=0, max_size=8),   # orders
)
@settings(**_SETTINGS)
def test_asof_join_matches_quadratic_model(spark, events, orders):
    ev = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(events)],
        "k long, t long, event_id long",
    )
    od = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(orders)],
        "k long, t long, order_id long",
    )
    got = {
        r["event_id"]: r["asof_order_id"]
        for r in asof_join(
            ev, od, key="k", time="t", payload=["order_id"], tiebreak="order_id"
        ).collect()
    }
    model = {}
    for i, (k, t) in enumerate(events):
        best = None  # latest time at-or-before, then largest order_id
        for j, (ok, ot) in enumerate(orders):
            if ok == k and ot <= t and (best is None or (ot, j) > best):
                best = (ot, j)
        model[i] = best[1] if best else None
    assert got == model


# -------------------------------------------------------------- dsum
_vals = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=30,
)


@given(_vals)
@settings(**_SETTINGS)
def test_dsum_reassociation_invariance(spark, vals):
    def run(rows, parts):
        df = spark.createDataFrame([(v,) for v in rows], "v double")
        return df.repartition(parts).agg(dsum(F.col("v"), "s")).collect()[0]["s"]

    fwd = run(vals, 1)
    rev = run(list(reversed(vals)), 7)
    assert fwd == rev or (fwd != fwd and rev != rev)  # bit-equal (NaN-safe)
    # exact-decimal Python model: quantize like Spark's HALF_UP cast,
    # sum exactly, convert via the same string hop
    q = decimal.Decimal(1).scaleb(-8)
    total = sum(
        decimal.Decimal(repr(v)).quantize(q, rounding=decimal.ROUND_HALF_UP)
        for v in vals
    )
    assert fwd == float(str(total))


# ---------------------------------------------------- minhash invariance
_doc_text = st.text(
    alphabet="abcdef ", min_size=5, max_size=40
).filter(lambda s: len(s.strip()) >= 5)


@given(st.lists(_doc_text, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_minhash_signature_order_and_duplicate_invariance(spark, texts):
    """Signatures depend only on each doc's shingle multiset: row order
    and partitioning must not change them, and identical texts must get
    identical signatures."""
    from edinet_etl_spark.operators.dedup import minhash_signatures

    rows = [(i, t) for i, t in enumerate(texts)]
    fwd = spark.createDataFrame(rows, "doc_id long, text string")
    rev = spark.createDataFrame(list(reversed(rows)), "doc_id long, text string").repartition(5)
    sig_f = {r["doc_id"]: tuple(r[c] for c in r.asDict() if c != "doc_id")
             for r in minhash_signatures(fwd).collect()}
    sig_r = {r["doc_id"]: tuple(r[c] for c in r.asDict() if c != "doc_id")
             for r in minhash_signatures(rev).collect()}
    assert sig_f == sig_r
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(sig_f[i])
    for sigs in by_text.values():
        assert len(set(sigs)) == 1  # same text → same signature


def test_zip_member_tie_breaks_deterministically(spark):
    """A2 argmax with EQUAL member sizes: the name tiebreak must pick
    the same member regardless of input order (SURVEY §2.11d).  The
    members differ in content, so the bytes show which one was picked."""
    import io
    import zipfile

    from edinet_etl_spark.sources.zip_extract import extract_filings

    def zip_bytes(names):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n in names:
                zf.writestr(n, n[0].encode() * 100)  # identical sizes
        return buf.getvalue()

    for order in (["a.csv", "b.csv", "c.csv"], ["c.csv", "b.csv", "a.csv"]):
        df = spark.createDataFrame(
            [("2024-06-01", "D1", "E00001", "120", "csv",
              bytearray(zip_bytes(order)))],
            "date_str string, docID string, edinetCode string, docTypeCode string, "
            "file_type string, content binary",
        )
        rows = extract_filings(df).collect()
        assert len(rows) == 1
        # desc(member_name) tiebreak → 'c.csv' wins in either order
        assert rows[0][:5] == ("2024-06-01", "D1", "E00001", "120", "csv")
        assert rows[0]["member_bytes"] == bytearray(b"c" * 100)


# ------------------------------------------------- TWA vs Decimal model
_event = st.tuples(
    st.integers(min_value=1, max_value=3),              # user_id
    st.integers(min_value=0, max_value=500_000),        # seconds offset
    st.integers(min_value=-99999, max_value=99999),     # value in cents
)


@given(st.lists(_event, min_size=1, max_size=20, unique_by=lambda e: (e[0], e[1])))
@settings(**_SETTINGS)
def test_time_weighted_avg_matches_decimal_model(spark, events):
    from edinet_etl_spark.operators.temporal import time_weighted_avg

    base = 1_700_000_000
    rows = [
        (uid, idx, __import__("datetime").datetime.utcfromtimestamp(base + off),
         cents / 100.0)
        for idx, (uid, off, cents) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: (r["twa_value"], r["n_intervals"])
        for r in time_weighted_avg(df).collect()
    }
    # Python model: exact decimal sum of value*dt over (ts, event_id) order
    per_user: dict[int, list[tuple[int, int, float]]] = {}
    for idx, (uid, off, cents) in enumerate(events, start=1):
        per_user.setdefault(uid, []).append((off, idx, cents / 100.0))
    expect = {}
    for uid, obs in per_user.items():
        obs.sort()
        total = decimal.Decimal(0)
        tdt = 0
        n = 0
        for (off, _, val), (noff, _, _) in zip(obs, obs[1:]):
            dt = noff - off
            if dt <= 0:
                continue
            # mirror the operator: DECIMAL(value) × integer dt, exact —
            # never a rounded float product
            total += decimal.Decimal(repr(val)).quantize(
                decimal.Decimal("0.00000001"), rounding=decimal.ROUND_HALF_UP
            ) * dt
            tdt += dt
            n += 1
        if n:
            expect[uid] = (float(str(total)) / tdt, n)
    assert got == expect


# ------------------------------------------------- gapfill LOCF invariants
@given(st.lists(_event, min_size=1, max_size=15, unique_by=lambda e: (e[0], e[1])))
@settings(**_SETTINGS)
def test_gapfill_locf_invariants(spark, events):
    from edinet_etl_spark.operators.temporal import gapfill_locf

    import datetime as dt_mod

    base = dt_mod.datetime(2024, 1, 1)
    rows = [
        (uid, idx, base + dt_mod.timedelta(seconds=off % 10_800), cents / 100.0)
        for idx, (uid, off, cents) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    users = df.select("user_id").distinct()
    out = gapfill_locf(df, users, "2024-01-01 00:00:00", "2024-01-01 03:00:00")
    got = {(r["user_id"], r["grid_hour"]): r["filled_value"] for r in out.collect()}

    # model: per (user, hour) last observation by (ts, event_id), then LOCF
    last_obs: dict[tuple[int, dt_mod.datetime], tuple] = {}
    for uid, idx, ts, val in rows:
        if ts >= dt_mod.datetime(2024, 1, 1, 3):
            continue
        hour = ts.replace(minute=0, second=0, microsecond=0)
        key = (uid, hour)
        cand = (ts, idx, val)
        if key not in last_obs or cand[:2] > last_obs[key][:2]:
            last_obs[key] = cand
    expect = {}
    for uid in {r[0] for r in rows}:
        carried = None
        for h in range(4):  # grid includes the end bound, like sequence()
            hour = dt_mod.datetime(2024, 1, 1, h)
            if (uid, hour) in last_obs:
                carried = last_obs[(uid, hour)][2]
            expect[(uid, hour)] = carried
    assert got == expect


# --------------------------------------- stratified sample determinism
def test_stratified_sample_is_input_order_independent(spark):
    from edinet_etl_spark import registry

    registry.load_all()
    q = registry.QUERIES["stratified_doc_sample"]
    a = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, q(spark, "/root/testdata/sf0.001").collect()))
    assert a == b and len(a) > 0


# ------------------------------------------------------- OHLC bars
_event = st.tuples(
    st.integers(min_value=0, max_value=2),              # user_id
    st.integers(min_value=0, max_value=3 * 3600 - 1),   # seconds offset
    st.integers(min_value=-1000, max_value=1000),       # value (scaled)
)


@given(st.lists(_event, min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_ohlc_bars_matches_scan_model(spark, events):
    """hourly_ohlc_bars' min_by/max_by aggregation == a literal
    first/last/max/min scan for ANY event sequence (simultaneous
    events break ties on event_id; values are exact halves so float
    compare is safe)."""
    from edinet_etl_spark.operators.temporal import ohlc_bars

    rows = [
        (eid, 1_700_000_000 + secs, user, val / 2.0)
        for eid, (user, secs, val) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, epoch long, user_id long, value double"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("epoch")).alias("ts"),
        "user_id",
        "value",
    )
    got = {
        (r["user_id"], r["hour_start"]): (
            r["open_value"], r["high_value"], r["low_value"],
            r["close_value"], r["n_events"],
        )
        for r in ohlc_bars(df).collect()
    }
    # Python model: group by (user, hour), order by (ts, event_id)
    model: dict = {}
    for eid, (user, secs, val) in enumerate(events):
        epoch = 1_700_000_000 + secs
        key = (user, epoch // 3600)
        model.setdefault(key, []).append((epoch, eid, val / 2.0))
    assert len(got) == len(model)
    for (user, hour_epoch), items in model.items():
        items.sort()
        values = [v for _, _, v in items]
        match = [
            v for (u, hs), v in got.items()
            if u == user and int(hs.timestamp()) == hour_epoch * 3600
        ]
        assert len(match) == 1
        o, h, l, c, n = match[0]
        assert (o, h, l, c, n) == (
            items[0][2], max(values), min(values), items[-1][2], len(items)
        )


# -------------------------------------------- repetition fractions
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh".split()), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_repetition_frames_matches_set_model(spark, docs):
    """repetition_scores' higher-order-function pipeline == the Python
    set model (1 - |distinct n-grams| / |n-grams|) for ANY token list;
    docs under 3 tokens are excluded on both sides."""
    from edinet_etl_spark.operators.llmdata import repetition_frames

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_3grams"], r["dup_2gram_frac"], r["dup_3gram_frac"])
        for r in repetition_frames(df).collect()
    }

    def fracs(toks, n):
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return len(grams), (len(grams) - len(set(grams))) / len(grams)

    expected_ids = [i for i, toks in enumerate(docs) if len(toks) >= 3]
    assert sorted(got) == expected_ids
    for i in expected_ids:
        n3, d2, d3 = got[i]
        en2, ed2 = fracs(docs[i], 2)
        en3, ed3 = fracs(docs[i], 3)
        assert n3 == en3
        assert d2 == ed2 and d3 == ed3


# ---------------------------------------------------------- SCD2 merge
@given(
    st.dictionaries(                               # current dimension
        st.integers(min_value=1, max_value=6),     # key
        st.sampled_from(["A", "B", "C"]),          # tracked attribute
        min_size=1,
        max_size=6,
    ),
    st.dictionaries(                               # update batch
        st.integers(min_value=1, max_value=6),
        st.sampled_from(["A", "B", "C"]),
        min_size=0,
        max_size=6,
    ),
)
@settings(**_SETTINGS)
def test_scd2_merge_matches_dict_model(spark, current, batch):
    """layout.scd2_merge == the dict model for ANY (dimension, update
    batch): keys present in both whose attribute actually differs
    version; unchanged keys pass through untouched (no-op guard);
    keys the dimension has never seen INSERT as first open versions —
    the standard SCD2 merge contract (an earlier revision silently
    dropped them; the model pins the fix)."""
    from edinet_etl_spark.layout import scd2_merge

    base = spark.createDataFrame(
        [(k, v, "2024-01-01", None, True) for k, v in sorted(current.items())],
        "k long, attr string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "attr",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "is_current",
    )
    updates = spark.createDataFrame(
        [(k, v) for k, v in sorted(batch.items())], "k long, attr string"
    )
    got = sorted(
        (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in scd2_merge(base, updates, "k", ["attr"], "2024-06-01").collect()
    )
    model = []
    for k, v in current.items():
        if k in batch and batch[k] != v:
            model.append((k, v, "2024-01-01", "2024-06-01", False))
            model.append((k, batch[k], "2024-06-01", "None", True))
        else:
            model.append((k, v, "2024-01-01", "None", True))
    for k, v in batch.items():
        if k not in current:
            model.append((k, v, "2024-06-01", "None", True))
    assert got == sorted(model)


# ------------------------------------------------------- triangles
_edge = st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
    lambda e: e[0] != e[1]
)


@given(st.lists(_edge, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_triangle_card_matches_bruteforce_model(spark, raw_edges):
    """Degree-ordered edge-iterator triangle counting == the O(n³)
    brute-force model for ANY small graph (duplicates/orientation in
    the input collapse to a distinct u<v edge set first, as the query
    does)."""
    from itertools import combinations

    from edinet_etl_spark.operators.sketches import triangle_card

    edges = {(min(a, b), max(a, b)) for a, b in raw_edges}
    nodes = sorted({n for e in edges for n in e})
    tri = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    deg = {n: sum(1 for e in edges if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    # NB the model's wedge count is over TOTAL degree; the query counts
    # oriented (out-degree) wedges — compare what's comparable:
    # triangles, nodes, edges exactly; oriented wedges ≥ triangles.
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    row = triangle_card(df).collect()[0]
    assert row["n_triangles"] == tri
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_triangles"] <= row["n_wedges"] <= wedges


# ------------------------------------------------------------- KMV
@given(
    st.dictionaries(
        st.sampled_from(["g1", "g2"]),
        st.sets(st.integers(0, 10_000), min_size=1, max_size=150),
        min_size=1,
        max_size=2,
    )
)
@settings(**_SETTINGS)
def test_kmv_matches_python_model(spark, groups):
    """kmv_estimate == an independent Python md5 model for ANY small
    (group, key-set) input — including the < k fallback branch (kept
    hash set IS the exact distinct set), which no fixture group is
    small enough to exercise."""
    import hashlib

    from edinet_etl_spark.operators.sketches import _KMV_K, kmv_estimate

    rows = [(g, k) for g, keys in groups.items() for k in keys]
    df = spark.createDataFrame(rows, "grp string, key long")
    got = {r["grp"]: r for r in kmv_estimate(df, "grp", "key").collect()}
    for g, keys in groups.items():
        hashes = sorted(
            int(hashlib.md5(str(k).encode()).hexdigest()[:13], 16) for k in keys
        )
        if len(hashes) < _KMV_K:
            expect = float(len(hashes))
        else:
            expect = (_KMV_K - 1) * 4503599627370496.0 / hashes[_KMV_K - 1]
        assert got[g]["exact_distinct"] == len(keys)
        assert got[g]["kmv_estimate"] == expect, (g, got[g], expect)


# -------------------------------------------------------------- PQ
@given(
    st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32), min_size=64, max_size=64
        ),
        min_size=5,
        max_size=14,
    )
)
@settings(**_SETTINGS)
def test_pq_codes_match_python_model(spark, vectors):
    """PQ assignment == a pure-Python model for ANY small corpus:
    same seed-stride codebook, same fixed-association dist² folds
    (left-fold dot products in IEEE doubles), same (dist², cid)
    tie-break — codes and residuals compare bit-exactly."""
    import struct

    from edinet_etl_spark.operators.similarity import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        pq_codes_from,
    )

    # createDataFrame(FloatType) rounds to float32 — model on the
    # SAME rounded values
    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    vecs = [[f32(x) for x in v] for v in vectors]
    n = len(vecs)
    stride = -(-n // _PQ_K)
    seeds = {i // stride: vecs[i] for i in range(0, n, stride)}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x * y)
        return acc

    def dist2(x, c):
        return (dot(x, x) - (2.0 * dot(x, c))) + dot(c, c)

    expect = {}
    for vid, v in enumerate(vecs):
        for s in range(_PQ_M):
            sub = v[s * _PQ_DSUB : (s + 1) * _PQ_DSUB]
            best = min(
                ((dist2(sub, c[s * _PQ_DSUB : (s + 1) * _PQ_DSUB]), cid)
                 for cid, c in seeds.items()),
            )
            expect[(vid, s)] = (best[1], best[0])

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    _, _, _, codes = pq_codes_from(df)
    got = {(r["vec_id"], r["sub_id"]): (r["cid"], r["dist2"]) for r in codes.collect()}
    assert got == expect


# ------------------------------------------------- OLS slope (integer path)
# groups of (dx, y_m) points; dx unique per group (the caller aggregates
# by dx upstream, so duplicate regressor values cannot reach the helper)
_points = st.lists(
    st.tuples(
        st.integers(min_value=-3, max_value=3),
        st.integers(min_value=-10**12, max_value=10**12),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda p: p[0],
)


@given(st.lists(_points, min_size=1, max_size=3))
@settings(**_SETTINGS)
def test_ols_slope_matches_fraction_model(spark, groups):
    from fractions import Fraction

    from edinet_etl_spark.operators.analytics import ols_slope_by_group

    rows = [
        (g, int(dx), int(y)) for g, pts in enumerate(groups) for dx, y in pts
    ]
    df = spark.createDataFrame(rows, "k long, dx long, y_m long")
    got = {
        r["k"]: (r["n_years"], r["total_spend"], r["slope_per_year"])
        for r in ols_slope_by_group(df, "k").collect()
    }
    for g, pts in enumerate(groups):
        if len(pts) < 2:
            assert g not in got
            continue
        n = len(pts)
        sdx = sum(dx for dx, _ in pts)
        sdx2 = sum(dx * dx for dx, _ in pts)
        sy = sum(y for _, y in pts)
        sdxy = sum(dx * y for dx, y in pts)
        num = n * sdxy - sdx * sy
        den = (n * sdx2 - sdx * sdx) * 1000
        # the helper's single rounding: float(num)/float(den); the
        # Fraction model proves the integer numerator/denominator are
        # exact, then reproduces the same one-step double division
        assert den > 0  # distinct dx, n >= 2 => positive
        exp_slope = float(num) / float(den)
        exp_total = float(sy) / 1000.0
        n_years, total, slope = got[g]
        assert n_years == n
        assert total == exp_total
        assert slope == exp_slope
        # and the double result is within 1 ulp of the true rational
        true = Fraction(num, den)
        assert abs(Fraction(slope) - true) <= abs(true) * Fraction(1, 2**50) or num == 0


# ------------------------------------------------- apply_changes (r3)
_change = st.tuples(
    st.integers(min_value=1, max_value=6),            # key
    st.sampled_from(["I", "U", "D"]),                 # op
    st.integers(min_value=0, max_value=99),           # payload
)


@given(
    st.lists(st.integers(min_value=1, max_value=6), max_size=5, unique=True),
    st.lists(_change, max_size=12),
)
@settings(**_SETTINGS)
def test_apply_changes_matches_replay_model(spark, base_keys, changes):
    from edinet_etl_spark.layout import apply_changes

    base = spark.createDataFrame(
        [(k, float(k * 10)) for k in base_keys] or [(99, 0.0)],
        "key bigint, balance double",
    )
    if not base_keys:
        base = base.filter("key < 0")
    chg = spark.createDataFrame(
        [(k, op, float(v), i) for i, (k, op, v) in enumerate(changes)]
        or [(0, "U", 0.0, 0)],
        "key bigint, op string, balance double, seq bigint",
    )
    if not changes:
        chg = chg.filter("seq < 0")
    got = {
        r["key"]: r["balance"]
        for r in apply_changes(base, chg, "key", ["seq"]).collect()
    }
    # independent model: literal sequential replay
    state = {k: float(k * 10) for k in base_keys}
    for k, op, v in changes:  # in seq order
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = float(v)
    assert got == state


# ------------------------------------------- duplicate-span islands (r3)
_spans = st.lists(
    st.tuples(st.integers(min_value=1, max_value=30)),
    max_size=10,
)


@given(st.lists(st.integers(min_value=1, max_value=25), min_size=0, max_size=10))
@settings(**_SETTINGS)
def test_span_islands_match_interval_model(spark, starts):
    """The gaps-and-islands merge inside duplicate_span_scrub equals a
    literal Python interval-union for ANY span starts (width 8)."""
    from pyspark.sql import Window

    W = 8
    spans = sorted(set(starts))
    if not spans:
        return
    df = spark.createDataFrame(
        [(1, s, s + W - 1) for s in spans], "doc_id bigint, s bigint, e bigint"
    )
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    runmax = F.max("e").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    marked = df.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(runmax, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island_id",
        F.sum("new_island").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = sorted(
        (r["s"], r["e"])
        for r in marked.groupBy("doc_id", "island_id")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .collect()
    )
    # model: classic interval union over [s, s+W-1] — merge on OVERLAP
    # (s <= prev_e); exactly-adjacent spans stay separate islands,
    # matching the Spark `s > running_max(e)` condition
    model = []
    for s in spans:
        if model and s <= model[-1][1]:
            model[-1] = (model[-1][0], max(model[-1][1], s + W - 1))
        else:
            model.append((s, s + W - 1))
    assert got == [(s, e) for s, e in model]


# ------------------------------------------------- BPE greedy replace (r3)
@given(st.text(alphabet="ab", min_size=0, max_size=12), st.sampled_from(["aa", "ab", "ba", "bb"]))
@settings(**_SETTINGS)
def test_bpe_delimiter_replace_matches_greedy_model(spark, word, pair):
    """The '·'-delimited literal replace used by bpe_train_steps equals
    a literal greedy left-to-right non-overlapping merge on the symbol
    list, for ANY word over {a,b} and ANY 2-symbol merge."""
    a, b = pair[0], pair[1]
    if not word:
        return
    sym = "·" + "··".join(word) + "·"
    got_s = (
        spark.range(1)
        .select(
            F.replace(
                F.lit(sym), F.lit(f"·{a}··{b}·"), F.lit(f"·{a}{b}·")
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    got = got_s[1:-1].split("··") if len(got_s) > 2 else []
    # model: greedy left-to-right merge
    out: list[str] = []
    i = 0
    syms = list(word)
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    assert got == out


# --------------------------------------------- θ-sketch intersection (r3)
@given(
    st.sets(st.integers(min_value=0, max_value=400), max_size=40),
    st.sets(st.integers(min_value=0, max_value=400), max_size=40),
)
@settings(**_SETTINGS)
def test_theta_intersection_model_properties(spark, set_a, set_b):
    """The θ-sketch estimator invariants on arbitrary sets, against a
    Python model using the SAME md5 hash: (1) when both sets fit in k,
    the 'estimates' are exact; (2) the sample S is exactly the union
    minima below θ; (3) membership flags match true intersection on S."""
    import hashlib

    K = 16

    def h(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:13], 16)

    ha = sorted(h(x) for x in set_a)[:K]
    hb = sorted(h(x) for x in set_b)[:K]
    theta_a = 2**52 if len(set_a) < K else max(ha)
    theta_b = 2**52 if len(set_b) < K else max(hb)
    theta = min(theta_a, theta_b)
    s = sorted(set(v for v in ha + hb if v <= theta))
    inter_hashes = set(ha) & set(hb)
    n_both = sum(1 for v in s if v in inter_hashes)
    if len(set_a) < K and len(set_b) < K:
        # small-set exactness: S is the whole union, flags are exact
        assert len(s) == len(set_a | set_b)
        assert n_both == len(set_a & set_b)
    # flags never exceed |S| and subset-monotonicity holds
    assert 0 <= n_both <= len(s)


# ------------------------------------------- priority sampling model
def test_priority_sample_matches_python_model(spark):
    """priority_weighted_sample == an independent Python replica of
    the Duffield-Lund-Thorup scheme on the sf0.001 fixture: identical
    top-(k+1) selection by q = w·2^52/(h+1), identical tau, and the
    estimator total accumulated in decimal exactly as the engine does."""
    import decimal
    import hashlib

    import pyarrow.parquet as pq

    from edinet_etl_spark.operators.llmdata import (
        _PS_K,
        _PS_POW52,
        priority_weighted_sample,
    )

    tbl = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "n_chars"]
    ).to_pylist()
    items = []
    for r in tbl:
        w = max(int(r["n_chars"]), 1)
        h = int(
            hashlib.md5(f"psamp:{r['doc_id']}".encode()).hexdigest()[:13], 16
        )
        q = (float(w) * _PS_POW52) / (float(h) + 1.0)
        items.append((-q, int(r["doc_id"]), w))
    items.sort()
    top = items[: _PS_K + 1]
    tau = -top[_PS_K][0]
    sample = top[:_PS_K]
    est = decimal.Decimal(0)
    for negq, _did, w in sample:
        ew = max(float(w), tau)
        est += decimal.Decimal(repr(ew)).quantize(
            decimal.Decimal("1e-8"), rounding=decimal.ROUND_HALF_UP
        )
    fp = hashlib.md5(
        ",".join(str(did) for _nq, did, _w in sample).encode()
    ).hexdigest()[:16]
    row = priority_weighted_sample(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["k"] == _PS_K
    assert row["tau"] == tau
    assert row["est_total_chars"] == float(str(est))
    assert row["true_total_chars"] == sum(w for _nq, _did, w in items)
    assert row["sample_fingerprint"] == fp


# --------------------------------------------------- ACF scan model
def test_value_acf_matches_python_model(spark):
    """value_acf_lags == an independent Python replica on the sf0.001
    fixture: hourly decimal-exact means, series mean, lag-L co-moments
    and variance accumulated with the same decimal discipline."""
    import decimal
    from collections import defaultdict

    import pyarrow.parquet as pq

    from edinet_etl_spark.operators.events import _ACF_LAGS, value_acf_lags

    def dquant(v: float) -> decimal.Decimal:
        return decimal.Decimal(repr(v)).quantize(
            decimal.Decimal("1e-8"), rounding=decimal.ROUND_HALF_UP
        )

    raw = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["event_type", "ts", "value"],
    ).to_pylist()
    hourly = defaultdict(lambda: (decimal.Decimal(0), 0))
    for r in raw:
        # ts is tz-naive nanos in the fixture; truncate to the hour
        hr = r["ts"].replace(minute=0, second=0, microsecond=0)
        s, n = hourly[(r["event_type"], hr)]
        hourly[(r["event_type"], hr)] = (s + dquant(r["value"]), n + 1)
    series = defaultdict(list)
    for (et, hr), (s, n) in sorted(hourly.items(), key=lambda kv: kv[0]):
        series[et].append(float(str(s)) / n)
    expect = {}
    for et, xs in series.items():
        ssum = decimal.Decimal(0)
        for x in xs:
            ssum += dquant(x)
        m = float(str(ssum)) / len(xs)
        c = [x - m for x in xs]
        den = decimal.Decimal(0)
        for v in c:
            den += dquant(v * v)
        den_f = float(str(den))
        for L in _ACF_LAGS:
            num = decimal.Decimal(0)
            for t in range(L, len(c)):
                num += dquant(c[t] * c[t - L])
            expect[(et, L)] = (
                len(c) - L if len(c) > L else 0,
                len(xs),
                float(str(num)) / den_f,
            )
    got = value_acf_lags(spark, "/root/testdata/sf0.001").collect()
    assert len(got) == len(expect)
    for r in got:
        n_pairs, n_hours, acf = expect[(r["event_type"], r["lag"])]
        assert r["n_pairs"] == n_pairs
        assert r["n_hours"] == n_hours
        assert r["acf"] == acf, (r, acf)


# --- Hamilton apportionment vs an independent Python model ---

_src_counts = st.lists(
    st.tuples(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=5000),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(_src_counts, st.integers(min_value=0, max_value=2000))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_apportionment_matches_hamilton_model(spark, counts, budget):
    from edinet_etl_spark.operators.llmdata import apportion

    df = spark.createDataFrame(
        [(s, n) for s, n in counts], "source string, n_docs bigint"
    )
    got = {r.source: r.alloc for r in apportion(df, budget).collect()}

    # independent model: exact integer Hamilton method
    total = sum(n for _, n in counts)
    floors = {s: (budget * n) // total for s, n in counts}
    rems = sorted(
        ((-(budget * n) % total, s) for s, n in counts),
        key=lambda t: (-((budget * dict(counts)[t[1]]) % total), t[1]),
    )
    leftover = budget - sum(floors.values())
    expect = dict(floors)
    for _, s in rems[:leftover]:
        expect[s] += 1

    assert got == expect
    assert sum(got.values()) == budget
    # each allocation is floor or floor+1 of its exact quota
    for s, n in counts:
        assert got[s] in (floors[s], floors[s] + 1)


# --- compaction start-offset binning vs a sequential Python model ---

_day_sizes = st.lists(
    st.integers(min_value=1, max_value=400), min_size=1, max_size=25
)


@given(_day_sizes, st.integers(min_value=100, max_value=1000))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_compaction_bins_match_sequential_model(spark, sizes, target):
    import datetime

    from edinet_etl_spark.operators.analytics import pack_bins

    days = [datetime.date(2024, 1, 1) + datetime.timedelta(days=i) for i in range(len(sizes))]
    df = spark.createDataFrame(list(zip(days, sizes)), "day date, bytes bigint")
    got = {
        r.bin_id: (r.n_files, r.total_bytes, r.first_day, r.last_day)
        for r in pack_bins(df, target).collect()
    }

    # sequential model: walk days in order, bin = floor(start_offset/target)
    expect: dict = {}
    cum = 0
    for d, b in zip(days, sizes):
        bin_id = cum // target
        n, tb, fd, ld = expect.get(bin_id, (0, 0, d, d))
        expect[bin_id] = (n + 1, tb + b, min(fd, d), max(ld, d))
        cum += b
    assert got == expect
    # bins are date-contiguous: ranges never interleave
    order = sorted(expect)
    for a, b in zip(order, order[1:]):
        assert expect[a][3] < expect[b][2]


# --- linear-interpolation gap-fill vs a pure-Python IEEE model ---

_interp_event = st.tuples(
    st.integers(min_value=1, max_value=3),              # user_id
    st.integers(min_value=0, max_value=10_799),         # seconds offset
    st.integers(min_value=-99999, max_value=99999),     # value in cents
)


@given(st.lists(_interp_event, min_size=1, max_size=20, unique_by=lambda e: (e[0], e[1])))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gapfill_interp_matches_python_model(spark, events):
    import datetime as dt_mod

    from edinet_etl_spark.operators.temporal import gapfill_interp

    base = dt_mod.datetime(2024, 1, 1)
    rows = [
        (uid, idx, base + dt_mod.timedelta(seconds=off), cents / 100.0)
        for idx, (uid, off, cents) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    users = df.select("user_id").distinct()
    out = gapfill_interp(df, users, "2024-01-01 00:00:00", "2024-01-01 03:00:00")
    got = {(r["user_id"], r["grid_hour"]): r["interp_value"] for r in out.collect()}

    # model: per (user, hour) last observation by (ts, event_id), then
    # the SAME 3-op IEEE expression Spark evaluates
    last_obs: dict[tuple[int, dt_mod.datetime], tuple] = {}
    for uid, idx, ts, val in rows:
        hour = ts.replace(minute=0, second=0, microsecond=0)
        key = (uid, hour)
        cand = (ts, idx, val)
        if key not in last_obs or cand[:2] > last_obs[key][:2]:
            last_obs[key] = cand
    expect = {}
    for uid in {r[0] for r in rows}:
        obs = {
            h: last_obs[(uid, dt_mod.datetime(2024, 1, 1, h))][2]
            for h in range(4)
            if (uid, dt_mod.datetime(2024, 1, 1, h)) in last_obs
        }
        hs = sorted(obs)
        for h in range(4):
            prev = max((o for o in hs if o <= h), default=None)
            nxt = min((o for o in hs if o > h), default=None)
            if prev is None:
                v = None
            elif nxt is None:
                v = obs[prev]
            else:
                # identical expression tree to the Spark/DuckDB form
                v = obs[prev] + (obs[nxt] - obs[prev]) * (
                    float(h - prev) / float(nxt - prev)
                )
            expect[(uid, dt_mod.datetime(2024, 1, 1, h))] = v
    assert got == expect


# --- max-min fair water-filling vs an independent Python model ---


@given(_src_counts)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_waterfill_matches_python_model(spark, counts):
    from edinet_etl_spark.operators.llmdata import waterfill_half

    df = spark.createDataFrame([(s, t) for s, t in counts], "source string, t bigint")
    got = {r.source: r.alloc_tokens for r in waterfill_half(df).collect()}

    # independent model: simulate water-filling by iterative saturation
    total = sum(t for _, t in counts)
    budget = total // 2
    remaining = dict(counts)
    alloc = {s: 0 for s, _ in counts}
    left = budget
    active = sorted(remaining, key=lambda s: (remaining[s], s))
    while active and left > 0:
        fair = left // len(active)
        smallest = active[0]
        if remaining[smallest] <= fair:
            alloc[smallest] = remaining[smallest]
            left -= remaining[smallest]
            active = active[1:]
        else:
            # everyone remaining gets fair (+1 for the first `rem` by name)
            rem = left % len(active)
            for i, s in enumerate(sorted(active)):
                alloc[s] = fair + (1 if i < rem else 0)
            left = 0
            active = []
    assert got == alloc
    assert sum(got.values()) == budget
    for s, t in counts:
        assert 0 <= got[s] <= t


# --- Mann-Whitney U vs a pure-Python tie-aware rank model ---

_mw_samples = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),  # value (ties likely)
        st.booleans(),                             # group A membership
    ),
    min_size=2,
    max_size=30,
).filter(lambda xs: any(a for _, a in xs) and any(not a for _, a in xs))


@given(_mw_samples)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mannwhitney_matches_rank_model(spark, xs):
    from edinet_etl_spark.operators.events import mannwhitney_u

    df = spark.createDataFrame(
        [(float(v), a) for v, a in xs], "value double, is_a boolean"
    )
    row = mannwhitney_u(df, "na", "nb", "ua", "ub", "mr").collect()[0]

    # model: average ranks with ties (2x ranks stay integral)
    vals = sorted(v for v, _ in xs)
    two_rank = {}  # value -> 2 * average rank
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        two_rank[vals[i]] = (i + 1) + j  # (first + last) = 2*avg
        i = j
    na = sum(1 for _, a in xs if a)
    nb = len(xs) - na
    two_ra = sum(two_rank[v] for v, a in xs if a)
    ua = (two_ra - na * (na + 1)) / 2
    assert (row["na"], row["nb"]) == (na, nb)
    assert row["ua"] == ua
    assert row["ub"] == na * nb - ua
    assert row["mr"] == two_ra / (2 * na)
    # identity: U_a + U_b == n_a * n_b
    assert row["ua"] + row["ub"] == na * nb
