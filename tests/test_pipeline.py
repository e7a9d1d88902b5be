"""Reference-parity pipeline tests (SURVEY.md §5 strategy #2/#3).

Offline end-to-end: recorded API fixtures (FIXTURES.md §B) through the
full Spark ETL, compared against hand-computed goldens — plus targeted
unit tests for each reference-specific semantic: A1 130-beats-120
dedup (with the last-130 / first-non-130 tie rules), A2 largest
member, P10 cast skip, P11 unknown-context skip, L2 head-5, F13 unit
default, the fixed unbound-fiscal-year XBRL behavior (§2.11a), ZIP
error paths, empty-input sink guard, and retry swallow semantics.
"""

from __future__ import annotations

import re
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from edinet_etl_spark.pipeline.config import PipelineConfig
from edinet_etl_spark.pipeline.etl import revenue_table, run_pipeline
from edinet_etl_spark.pipeline.load import load_to_csv
from edinet_etl_spark.pipeline.transform import (
    process_financial_documents,
    revenue_facts,
    select_best_filings,
)
from edinet_etl_spark.sources import company_master, edinet_api, zip_extract
from edinet_etl_spark.sources.edinet_api import (
    ARRIVAL,
    RetryPolicy,
    _PartitionLimiter,
    _with_retries,
)
from tests.fixtures.gen import (
    GOLDEN,
    XBRL_NO_FISCAL,
    XBRL_VALID,
    FixtureFetcher,
    FlakyFetcher,
    _filing_csv_bytes,
    build_all,
)


# The document key every stage carries, in stage column order.
FILING_KEY = [*ARRIVAL, "edinetCode", "docTypeCode"]


def _filings(spark, cfg, fetcher):
    """The lake path's stage functions over the HTTP source: list →
    filter → download every dispatched doc → unzip.  Returns
    (companies, filings)."""
    companies = company_master.extract_companies(spark, cfg.csv_file)
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    policy = RetryPolicy(retry_delay=cfg.retry_delay)
    docs = edinet_api.list_documents(dates, fetcher, policy, cfg.fetch_partitions)
    targeted = edinet_api.filter_documents(docs, companies, cfg.target_doc_types)
    downloads = edinet_api.download_documents(
        targeted, fetcher, cfg.companies_to_get, policy, cfg.fetch_partitions
    )
    return companies, zip_extract.extract_filings(downloads)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("edinet_fixtures")
    build_all(root)
    return str(root)


@pytest.fixture(scope="module")
def cfg(fixture_root, tmp_path_factory):
    out = tmp_path_factory.mktemp("edinet_out")
    return PipelineConfig(
        csv_file=f"{fixture_root}/company_master.csv",
        output_dir=str(out),
        start_date="2024-06-01",
        end_date="2024-06-04",
        companies_to_get=None,
        fetch_partitions=2,
        retry_delay=0.001,
    )


def test_company_master_filters(spark, fixture_root):
    """B1: cp932 scan + P1-P4 leave exactly the 5 qualifying rows."""
    df = company_master.extract_companies(
        spark, f"{fixture_root}/company_master.csv"
    )
    codes = sorted(r["EDINET Code"] for r in df.collect())
    assert codes == ["E00001", "E00002", "E00006", "E00007"]
    # P5 industry exclusion (the commented-out reference feature)
    df2 = company_master.extract_companies(
        spark, f"{fixture_root}/company_master.csv", industry_exclude=["Banks"]
    )
    assert sorted(r["EDINET Code"] for r in df2.collect()) == [
        "E00001", "E00002", "E00007",
    ]


def test_list_and_filter_documents(spark, fixture_root, cfg):
    """S2/F2/J2/P6: date-range fetch explodes results; semi-join +
    doc-type filter keep exactly the targeted docs."""
    fetcher = FixtureFetcher(fixture_root)
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    assert dates.count() == 4
    docs = edinet_api.list_documents(dates, fetcher, num_partitions=2)
    assert sorted(r["docID"] for r in docs.collect()) == [
        "D001", "D002", "D003", "D004", "D005", "D006", "D007", "D009",
    ]
    companies = company_master.extract_companies(
        spark, f"{fixture_root}/company_master.csv"
    )
    kept = edinet_api.filter_documents(docs, companies, ["120", "130"])
    # D004 unknown company, D005 bad type dropped; D006 still here (flag
    # dispatch happens at download time, src/extract.py:176-184)
    assert sorted(r["docID"] for r in kept.collect()) == [
        "D001", "D002", "D003", "D006", "D007", "D009",
    ]


@pytest.mark.parametrize(
    "start,end,n_days",
    [
        ("2024-06-01", "2024-06-01", 1),
        ("2024-06-02", "2024-06-01", 0),  # end before start
        ("2024-02-27", "2024-03-02", 5),  # over a leap day
        ("2023-12-30", "2024-01-02", 4),  # over a year boundary
    ],
)
def test_date_range_matches_iso_dates(spark, start, end, n_days):
    """F2: the JVM-built date axis has exactly the rows of the
    reference's day-step loop (``_iso_dates``), in one string column."""
    dates = edinet_api.date_range(spark, start, end)
    assert dates.dtypes == [("date_str", "string")]
    got = sorted(r["date_str"] for r in dates.collect())
    assert got == edinet_api._iso_dates(start, end)
    assert len(got) == n_days


def test_end_to_end_golden(spark, fixture_root, cfg):
    """The full offline pipeline reproduces the hand-computed B6 rows:
    A1 dedup discards D002's XBRL (5555 must not appear), bad casts and
    unknown contexts are skipped, missing unit defaults to JPY.  The
    stage functions the lake path chains (download all, unzip, rank,
    parse) give the same rows."""
    fetcher = FixtureFetcher(fixture_root)
    rows = _rows(revenue_table(spark, cfg, fetcher))
    assert rows == GOLDEN
    assert all(r[4] != 5555 for r in rows)  # deduped XBRL never parsed
    companies, filings = _filings(spark, cfg, fetcher)
    assert _rows(process_financial_documents(filings, companies)) == GOLDEN


def test_run_pipeline_writes_csv(spark, fixture_root, cfg, tmp_path, caplog):
    """S7: end-to-end run writes a single readable CSV and logs one
    ``write_metrics`` record counting exactly the rows written."""
    import glob
    import logging

    with caplog.at_level(logging.INFO, logger="edinet_etl_spark.pipeline.load"):
        out_dir = run_pipeline(spark, cfg, FixtureFetcher(fixture_root))
    assert out_dir is not None
    [metrics] = _write_metrics(caplog)
    assert metrics["n_rows"] == len(GOLDEN)
    files = glob.glob(f"{out_dir}/*.csv")
    assert len(files) == 1  # coalesce(1) single-file parity
    back = spark.read.option("header", True).option("inferSchema", True).csv(out_dir)
    assert back.columns == [
        "year", "companyname", "industryclassification",
        "geonameen", "revenue", "revenue_unit",
    ]
    assert _rows(back) == GOLDEN


def test_small_arrow_byte_cap_keeps_the_csv(spark, fixture_root, cfg, tmp_path):
    """The download and extract islands flush their frames by
    ``spark.sql.execution.arrow.maxBytesPerBatch``.  A 16-byte cap, below
    every fixture ZIP and member, gives each of them a frame of its
    own, and the written CSV does not change."""
    import glob

    def csv_lines(name: str) -> list[str]:
        final = process_financial_documents(*reversed(_filings(spark, cfg, fetcher)))
        [path] = glob.glob(f"{load_to_csv(final, str(tmp_path), name)}/*.csv")
        with open(path, encoding="utf-8") as f:
            return sorted(f)

    fetcher = FixtureFetcher(fixture_root)
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    base = csv_lines("base")
    prev = spark.conf.get(key)
    spark.conf.set(key, "16b")
    try:
        capped = csv_lines("capped")
    finally:
        spark.conf.set(key, prev)
    assert len(base) == len(GOLDEN) + 1  # header
    assert capped == base


def test_zip_error_paths(spark, fixture_root, cfg):
    """B5: corrupt ZIP (D009) and no-matching-member ZIP (D007) emit no
    filings; D001's largest .csv member wins (A2).  Each filing carries
    its document's key columns, and no filename is built."""
    _, filings = _filings(spark, cfg, FixtureFetcher(fixture_root))
    assert filings.columns == [*FILING_KEY, "file_type", "member_bytes"]
    got = {
        r["docID"]: (r["date_str"], r["edinetCode"], r["docTypeCode"], r["file_type"])
        for r in filings.collect()
    }
    assert got == {
        "D001": ("2024-06-01", "E00001", "120", "csv"),
        "D002": ("2024-06-01", "E00002", "120", "xbrl"),
        "D003": ("2024-06-02", "E00002", "130", "csv"),
    }


def test_download_head_n_in_arrival_order(spark, fixture_root, cfg):
    """L1 (``src/extract.py:204-205``): ``companies_to_get`` keeps the
    first N dispatched docs in ``(date_str, docID)`` order, on the
    download stage and in the pipeline.  D006 has no flag set, so it is
    dispatched out before the head-N."""
    fetcher = FixtureFetcher(fixture_root)
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    docs = edinet_api.list_documents(dates, fetcher, num_partitions=2)
    companies = company_master.extract_companies(spark, cfg.csv_file)
    targeted = edinet_api.filter_documents(docs, companies, ["120", "130"])
    for n, want in [(3, {"D001", "D002", "D003"}), (2, {"D001", "D002"})]:
        dl = edinet_api.download_documents(
            targeted, fetcher, companies_to_get=n, num_partitions=2
        )
        assert {r["docID"] for r in dl.collect()} == want
    # the pipeline takes the same head before A1: with 2 docs, E00002's
    # 130 (D003) is no candidate, so its 120 (D002, XBRL) wins
    head2 = revenue_table(spark, replace(cfg, companies_to_get=2), fetcher)
    revenues = {r["revenue"] for r in head2.collect()}
    assert 5555 in revenues and 2000 not in revenues


def test_select_best_filings_tie_rules(spark):
    """A1 exact dict-semantics: any 130 beats non-130; LAST-seen 130
    wins among 130s (reference overwrites on every 130); FIRST-seen
    wins among non-130s (dict-insert guard).  src/transform.py:133.
    Arrival is ``(date_str, docID)``: the date decides first, the docID
    breaks a same-day tie."""
    rows = [
        ("2024-01-01", "D2", "E00001", "120"),   # first 120 (same day) wins
        ("2024-01-01", "D3", "E00001", "120"),
        ("2024-01-01", "D5", "E00002", "130"),
        ("2024-01-02", "D4", "E00002", "130"),   # last 130 (next day) wins
        ("2024-01-01", "D6", "E00003", "120"),
        ("2024-01-02", "D1", "E00003", "130"),   # 130 beats earlier 120
        ("2024-01-03", "D7", "XE00001", "130"),  # malformed code → dropped
        ("2024-01-03", "D8", "E00004", None),    # no doc type → dropped
    ]
    df = spark.createDataFrame(
        [(*r, "csv", b"") for r in rows],
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, member_bytes binary",
    )
    best = {r["edinetCode"]: r["docID"] for r in select_best_filings(df).collect()}
    assert best == {"E00001": "D2", "E00002": "D4", "E00003": "D1"}


def test_revenue_facts_semantics(spark):
    """One parse island for both formats.  XBRL (X1): marker-relative
    extraction; element without contextRef skipped; unitRef defaults to
    JPY; no-fiscal-year file emits nothing (fixed §2.11a behavior).
    CSV (S5/P7/L2): the revenue mask is the 要素ID at positional row 1,
    at most 5 mask rows in file order, a missing unit stays None; a DEI
    date that does not parse skips the filing instead of failing the
    job; a missing 要素ID at row 1 masks nothing (pandas' NaN equals no
    other NaN)."""
    good_csv = _filing_csv_bytes(
        [
            ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00003", None],
            ["jpcrp_cor:NetSales", "CurrentYearDuration", "10", "JPY"],  # mask
            ["jpcrp_cor:Revenue", "Prior1YearDuration", "99", "JPY"],  # not the mask
            ["jpcrp_cor:NetSales", "Prior1YearDuration", "9", None],  # no unit
            ["jpcrp_cor:NetSales", "Prior2YearDuration", "8", "JPY"],
            ["jpcrp_cor:NetSales", "Prior3YearDuration", "7", "JPY"],
            ["jpcrp_cor:NetSales", "Prior4YearDuration", "6", "JPY"],
            ["jpcrp_cor:NetSales", "CurrentYearDuration", "5", "JPY"],  # beyond head-5
            ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant",
             "2025-03-31", None],
        ]
    )
    bad_date_csv = _filing_csv_bytes(
        [
            ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00004", None],
            ["jpcrp_cor:NetSales", "CurrentYearDuration", "10", "JPY"],
            ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant",
             "not-a-date", None],
        ]
    )
    no_id_csv = _filing_csv_bytes(
        [
            ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00005", None],
            [None, "CurrentYearDuration", "10", "JPY"],
            [None, "Prior1YearDuration", "9", "JPY"],
            ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant",
             "2025-03-31", None],
        ]
    )
    df = spark.createDataFrame(
        [
            ("2024-06-01", "D1", "E00002", "120", "xbrl", bytearray(XBRL_VALID)),
            ("2024-06-01", "D2", "E00009", "120", "xbrl", bytearray(XBRL_NO_FISCAL)),
            ("2024-06-01", "D3", "E00003", "120", "csv", bytearray(good_csv)),
            ("2024-06-01", "D4", "E00004", "120", "csv", bytearray(bad_date_csv)),
            ("2024-06-01", "D5", "E00005", "120", "csv", bytearray(no_id_csv)),
        ],
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, member_bytes binary",
    )
    out = revenue_facts(df).collect()
    assert revenue_facts(df).columns == [
        "docID", "edinetCode", "context_ref", "value", "unit_ref", "fiscal_year",
    ]
    xbrl = [r for r in out if r["docID"] in ("D1", "D2")]
    by_ctx = {r["context_ref"]: r for r in xbrl}
    assert all(r["docID"] == "D1" and r["edinetCode"] == "E00002" for r in xbrl)
    # 4 of the 5 post-marker elements carry contextRef+text; the bare
    # <Revenue>2222</Revenue> is skipped (src/transform.py:60)
    assert sorted(by_ctx) == [
        "CurrentYearDuration", "Prior1YearDuration",
        "Prior2YearDuration", "Prior3YearDuration",
    ]
    assert by_ctx["Prior2YearDuration"]["unit_ref"] == "JPY"  # F13 default
    assert all(r["fiscal_year"] == 2024 for r in xbrl)

    csv = [r for r in out if r["docID"] not in ("D1", "D2")]
    assert {r["docID"] for r in csv} == {"D3"}
    assert sorted((r["context_ref"], r["value"], r["unit_ref"]) for r in csv) == [
        ("CurrentYearDuration", "10", "JPY"),
        ("Prior1YearDuration", "9", None),
        ("Prior2YearDuration", "8", "JPY"),
        ("Prior3YearDuration", "7", "JPY"),
        ("Prior4YearDuration", "6", "JPY"),
    ]
    assert all(r["fiscal_year"] == 2025 and r["edinetCode"] == "E00003" for r in csv)


def test_retry_swallow_and_recover(spark, fixture_root, cfg):
    """Reference retry semantics: transient failures recover; permanent
    failures are swallowed → missing rows, not job failure."""
    fetcher = FlakyFetcher(
        fixture_root, fail_times=1, always_fail=("list:2024-06-02", "doc:D001")
    )
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    policy = RetryPolicy(max_retries=2, retry_delay=0.001)
    docs = edinet_api.list_documents(dates, fetcher, policy, num_partitions=1)
    ids = sorted(r["docID"] for r in docs.collect())
    # 2024-06-02's docs (D003/D005/D006) are missing; the rest recovered
    assert ids == ["D001", "D002", "D004", "D007", "D009"]
    dl = edinet_api.download_documents(docs, fetcher, policy=policy, num_partitions=1)
    assert "D001" not in {r["docID"] for r in dl.collect()}


def test_partition_limiter_and_retry_unit():
    """_with_retries returns the value on eventual success and None
    after exhausting retries."""
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("boom")
        return "ok"

    limiter = _PartitionLimiter(per_second=0)
    policy = RetryPolicy(max_retries=3, retry_delay=0.0001)
    assert _with_retries(flaky, policy, limiter) == "ok"
    assert calls["n"] == 3
    assert _with_retries(lambda: (_ for _ in ()).throw(OSError()), policy, limiter) is None


def test_fetcher_bug_fails_the_job(spark, fixture_root, cfg):
    """Only OSError is retried and swallowed: a programming error in a
    fetcher surfaces as a job failure, not as silently missing rows."""
    from pyspark.errors import PythonException

    class BrokenFetcher(FixtureFetcher):
        def fetch_list(self, date_str: str) -> bytes:
            raise TypeError("fetcher bug")

    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    docs = edinet_api.list_documents(
        dates, BrokenFetcher(fixture_root), RetryPolicy(retry_delay=0.001), num_partitions=1
    )
    with pytest.raises(PythonException, match="TypeError: fetcher bug"):
        docs.collect()


def test_empty_sink_guard(spark, tmp_path, caplog):
    """S8: empty input → no write + warning (src/load.py:20-22,
    tests/test_load.py:33-45)."""
    import logging

    empty = spark.createDataFrame([], "year int, revenue long")
    with caplog.at_level(logging.WARNING, logger="edinet_etl_spark.pipeline.load"):
        result = load_to_csv(empty, str(tmp_path), "nothing")
    assert result is None
    assert not (tmp_path / "nothing").exists()
    assert any("empty" in r.message.lower() for r in caplog.records)


def _staging_dirs(root) -> list[str]:
    """Hidden entries the sink may leave under its ``output_path``."""
    return [p.name for p in root.iterdir() if p.name.startswith((".", "_"))]


def _tree_bytes(path) -> dict[str, bytes]:
    return {str(p.relative_to(path)): p.read_bytes() for p in path.rglob("*") if p.is_file()}


def test_fetcher_bug_fails_run_pipeline(spark, fixture_root, cfg, tmp_path):
    """The sink's single action evaluates the whole pipeline, so a bug in
    a download island must fail ``run_pipeline``, not be logged away as
    a write error."""
    from pyspark.errors import PythonException

    class BrokenFetcher(FixtureFetcher):
        def fetch_document(self, doc_id: str, file_type: str) -> bytes:
            raise TypeError("fetcher bug")

    bug_cfg = replace(cfg, output_dir=str(tmp_path))
    with pytest.raises(PythonException, match="TypeError: fetcher bug"):
        run_pipeline(spark, bug_cfg, BrokenFetcher(fixture_root))
    assert list(tmp_path.iterdir()) == []


def test_sink_failed_evaluation_keeps_old_output(spark, tmp_path):
    """An error raised while the frame is evaluated propagates, and the
    previous output stays byte-identical."""
    assert load_to_csv(spark.range(3).toDF("revenue"), str(tmp_path), "t") is not None
    before = _tree_bytes(tmp_path / "t")
    bad = spark.range(5).select(F.assert_true(F.col("id") < 3).alias("revenue"))
    with pytest.raises(Exception, match="is not true"):
        load_to_csv(bad, str(tmp_path), "t")
    assert _tree_bytes(tmp_path / "t") == before
    assert _staging_dirs(tmp_path) == []


def test_sink_output_path_is_a_file(spark, tmp_path, caplog):
    """A filesystem error in the sink's own directory work is logged and
    returns None, as the reference does (tests/test_load.py:48-59)."""
    import logging

    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with caplog.at_level(logging.ERROR, logger="edinet_etl_spark.pipeline.load"):
        assert load_to_csv(spark.range(3).toDF("revenue"), str(blocker), "t") is None
    assert any("Failed to save data" in r.message for r in caplog.records)
    assert blocker.read_text() == "not a directory"
    assert _staging_dirs(tmp_path) == []


def test_empty_frame_keeps_old_output(spark, tmp_path):
    """S8 reads the write's own observed row count: an empty frame leaves
    an earlier output untouched."""
    assert load_to_csv(spark.range(3).toDF("revenue"), str(tmp_path), "t") is not None
    before = _tree_bytes(tmp_path / "t")
    assert load_to_csv(spark.range(0).toDF("revenue"), str(tmp_path), "t") is None
    assert _tree_bytes(tmp_path / "t") == before
    assert _staging_dirs(tmp_path) == []


def _sql_execution_ids(spark) -> set[int]:
    """Ids in the SQL status store (the store ``StageMetrics`` counts),
    once every event posted so far has been processed.  Ids, not the
    store's size: the store drops its oldest entries past a cap."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def test_run_pipeline_is_one_sql_execution(spark, fixture_root, cfg, tmp_path):
    """The whole pipeline is one SQL execution: the observed write.  No
    probe action runs the pipeline first."""
    before = _sql_execution_ids(spark)
    out_cfg = replace(cfg, output_dir=str(tmp_path))
    assert run_pipeline(spark, out_cfg, FixtureFetcher(fixture_root)) is not None
    assert len(_sql_execution_ids(spark) - before) == 1
    assert _staging_dirs(tmp_path) == []


def test_pipeline_plan_has_no_python_rows(spark, fixture_root, cfg):
    """The literal side tables (date axis, year map) are JVM expressions:
    no ``ExistingRDD`` scan, which would start a Python worker just to
    unpickle the rows."""
    plan = _physical_plan(revenue_table(spark, cfg, FixtureFetcher(fixture_root)))
    assert "ExistingRDD" not in plan, plan


def _write_metrics(caplog) -> list[dict]:
    return [r.write_metrics for r in caplog.records if hasattr(r, "write_metrics")]


def test_observed_write_metrics(spark, tmp_path, caplog):
    """The sink reports row count / exact revenue total / null counts
    measured on the write pass itself (S7 monitoring parity — the
    reference logs re-scanned counts; we ride the action)."""
    import glob
    import logging

    df = spark.createDataFrame(
        [(2021, "A", 100), (2022, "A", 250), (2022, "B", None)],
        "year int, companyname string, revenue long",
    )
    with caplog.at_level(logging.INFO, logger="edinet_etl_spark.pipeline.load"):
        target = load_to_csv(df, str(tmp_path), "observed")
    assert target is not None
    [metrics] = _write_metrics(caplog)
    assert metrics["n_rows"] == 3
    assert metrics["revenue_total"] == "350"
    assert metrics["null_revenue"] == 1
    # the write actually happened with all rows, in one file
    files = glob.glob(f"{target}/*.csv")
    assert len(files) == 1
    assert open(files[0]).read().count("\n") == 4  # header + 3 rows


def test_observed_metrics_multi_partition(spark, tmp_path, caplog):
    """Regression: Observation.get captures the FIRST action on the
    observed plan.  Before the fix, the empty-guard's isEmpty() probe
    consumed the observation, reporting one take(1) row per partition
    (8 for this frame) instead of the written 1000."""
    import logging

    df = (
        spark.range(0, 1000, numPartitions=8)
        .select(F.col("id").cast("long").alias("revenue"))
    )
    with caplog.at_level(logging.INFO, logger="edinet_etl_spark.pipeline.load"):
        target = load_to_csv(df, str(tmp_path), "observed_mp")
    assert target is not None
    [metrics] = _write_metrics(caplog)
    assert metrics["n_rows"] == 1000
    assert metrics["revenue_total"] == str(sum(range(1000)))


def _zip_bytes(members: dict[str, bytes], corrupt: bytes | None = None) -> bytes:
    """An uncompressed ZIP; the member holding ``corrupt`` gets its
    stored data altered in place, so its CRC check fails on read while
    the directory still lists it."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    raw = buf.getvalue()
    if corrupt is not None:
        assert raw.count(corrupt) == 1
        raw = raw.replace(corrupt, bytes(len(corrupt)))
    return raw


def test_binary_lake_ingestion(spark, tmp_path):
    """S3's pre-fetched-directory mapping: ZIPs landed on storage by an
    upstream collector, read via the `binaryFile` source, go through the
    SAME member-picking island as the HTTP path.  Only the chosen member
    is read: a corrupt member nobody uses does not lose the filing, a
    corrupt chosen member skips it."""
    from edinet_etl_spark.sources.binary_lake import read_filing_lake
    from edinet_etl_spark.sources.zip_extract import extract_filings

    lake = tmp_path / "lake" / "dt=2024-06-01"
    lake.mkdir(parents=True)

    # full 4-part names carry the EDINET form code (docTypeCode)
    (lake / "D001_E00001_120_5.zip").write_bytes(
        _zip_bytes({"a/main.csv": b"x" * 10, "a/side.csv": b"y" * 99})
    )
    (lake / "D002_E00002_130_1.zip").write_bytes(
        _zip_bytes({"b/report.xbrl": b"<xbrl/>"})
    )
    (lake / "D003_E00003_120_5.zip").write_bytes(
        _zip_bytes({"c/main.csv": b"z" * 50, "c/notes.txt": b"q" * 20}, corrupt=b"q" * 20)
    )
    (lake / "D004_E00004_120_5.zip").write_bytes(
        _zip_bytes({"d/main.csv": b"w" * 30}, corrupt=b"w" * 30)
    )
    # legacy 3-part name: file type only, docTypeCode honestly NULL
    (lake / "broken_E9_1.zip").write_bytes(b"not a zip")

    filings = read_filing_lake(spark, str(tmp_path / "lake"))
    assert filings.columns == [*FILING_KEY, "file_type", "content"]
    rows = {r["docID"]: r for r in filings.collect()}
    assert set(rows) == {"D001", "D002", "D003", "D004", "broken"}
    assert rows["D001"]["file_type"] == "csv"
    assert rows["D001"]["docTypeCode"] == "120"
    assert rows["D001"]["date_str"] == "2024-06-01"
    assert rows["D002"]["file_type"] == "xbrl"
    # the amendment-priority key survives lake ingestion (the A1
    # '130'-beats-'120' rule depends on it)
    assert rows["D002"]["docTypeCode"] == "130"
    assert rows["broken"]["docTypeCode"] is None
    assert rows["broken"]["file_type"] == "xbrl"

    got = {
        r["docID"]: (
            r["date_str"], r["edinetCode"], r["docTypeCode"], r["file_type"],
            bytes(r["member_bytes"]),
        )
        for r in extract_filings(filings).collect()
    }
    # corrupt zip and corrupt chosen member skipped; largest member wins
    assert got == {
        "D001": ("2024-06-01", "E00001", "120", "csv", b"y" * 99),
        "D002": ("2024-06-01", "E00002", "130", "xbrl", b"<xbrl/>"),
        "D003": ("2024-06-01", "E00003", "120", "csv", b"z" * 50),
    }


def test_lake_arrival_is_dt_then_doc_id(spark, tmp_path):
    """Lake arrival order is the HTTP path's ``(date_str, docID)``, with
    the date from the ``dt=`` directory, not the files' mtimes (here the
    reverse of the date order) and not the docID alone (here also the
    reverse).  A1 keeps the first-seen 120 and the last-seen 130."""
    import os

    from edinet_etl_spark.sources.binary_lake import read_filing_lake
    from edinet_etl_spark.sources.zip_extract import extract_filings

    landed = {  # dt → (file name, mtime): the later dt is the older file
        "2024-06-01": [("D20_E00001_120_5.zip", 2_000_000_000),
                       ("D40_E00002_130_5.zip", 2_000_000_000)],
        "2024-06-02": [("D10_E00001_120_5.zip", 1_000_000_000),
                       ("D30_E00002_130_5.zip", 1_000_000_000)],
    }
    for dt, files in landed.items():
        part = tmp_path / "lake" / f"dt={dt}"
        part.mkdir(parents=True)
        for name, mtime in files:
            (part / name).write_bytes(_zip_bytes({"m.csv": name.encode()}))
            os.utime(part / name, (mtime, mtime))

    filings = extract_filings(read_filing_lake(spark, str(tmp_path / "lake")))
    best = {r["edinetCode"]: r["docID"] for r in select_best_filings(filings).collect()}
    assert best == {"E00001": "D20", "E00002": "D30"}


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _window_nodes(plan: str) -> list[str]:
    """The plan's ``Window`` operators (``WindowGroupLimit`` excluded)."""
    return [line for line in plan.splitlines() if re.search(r"\bWindow \[", line)]


def test_ingestion_has_no_global_window(spark, fixture_root, cfg, tmp_path):
    """Arrival order is a sort key, never a global rank: neither
    ingestion path plans a ``Window`` or a single-partition exchange.
    On the lake path A1's window, partitioned by company, is the only
    ``Window``; the HTTP pipeline ranks by a sort and has none."""
    from edinet_etl_spark.sources.binary_lake import read_filing_lake

    fetcher = FixtureFetcher(fixture_root)
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    docs = edinet_api.list_documents(dates, fetcher, num_partitions=2)
    companies = company_master.extract_companies(spark, cfg.csv_file)
    targeted = edinet_api.filter_documents(docs, companies, ["120", "130"])
    lake = tmp_path / "lake" / "dt=2024-06-01"
    lake.mkdir(parents=True)
    (lake / "D001_E00001_120_5.zip").write_bytes(_zip_bytes({"a.csv": b"x"}))
    lake_filings = zip_extract.extract_filings(read_filing_lake(spark, str(tmp_path / "lake")))
    for ingest in (
        edinet_api.download_documents(targeted, fetcher, companies_to_get=None),
        lake_filings,
        revenue_table(spark, cfg, fetcher),
    ):
        plan = _physical_plan(ingest)
        assert "SinglePartition" not in plan, plan
        assert _window_nodes(plan) == [], plan

    plan = _physical_plan(process_financial_documents(lake_filings, companies))
    [a1] = _window_nodes(plan)
    assert re.search(r"\], \[edinetCode#\d+\], \[", a1), a1


def test_run_pipeline_plan_fetches_winners_only(spark, fixture_root, cfg):
    """The HTTP pipeline is two islands, list fetch and the A1 walker,
    with one metadata shuffle between them: a repartition by company to
    exactly ``fetch_partitions`` tasks, each sorted by company, then A1.
    No filing bytes are in the plan, and no window ranks them."""
    plan = _physical_plan(revenue_table(spark, cfg, FixtureFetcher(fixture_root)))
    assert plan.count("MapInPandas") == 2, plan
    assert _window_nodes(plan) == [], plan
    assert not re.search(r"\b(content|member_bytes)#", plan), plan
    [by_company] = re.findall(r"Exchange hashpartitioning\(([^)]*)\), (\w+)", plan)
    assert re.fullmatch(rf"edinetCode#\d+, {cfg.fetch_partitions}", by_company[0]), plan
    assert by_company[1] == "REPARTITION_BY_NUM", plan
    assert re.search(r"Sort \[edinetCode#\d+ ASC NULLS FIRST, \(docTypeCode#\d+ = 130\) DESC", plan), plan


def test_filing_islands_plan_shape(spark):
    """Per-filing logic runs inside the islands that hold the filing's
    bytes: unzip-and-pick is one island with no shuffle, and parsing is
    one island for both formats (no per-format branches to union)."""
    from edinet_etl_spark.sources.zip_extract import extract_filings

    downloads = spark.createDataFrame(
        [("2024-06-01", "D1", "E00001", "120", "csv",
          bytearray(_zip_bytes({"a.csv": b"x"})))],
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, content binary",
    )
    plan = _physical_plan(extract_filings(downloads))
    assert plan.count("MapInPandas") == 1, plan
    assert "Window" not in plan and "Exchange" not in plan, plan

    filings = spark.createDataFrame(
        [("2024-06-01", "D1", "E00001", "120", "csv", bytearray(b"")),
         ("2024-06-01", "D2", "E00002", "120", "xbrl", bytearray(b""))],
        "date_str string, docID string, edinetCode string, docTypeCode string, "
        "file_type string, member_bytes binary",
    )
    companies = spark.createDataFrame(
        [("E00001", "Alpha Corp", "Manufacturing")],
        "`EDINET Code` string, `Submitter Name（alphabetic）` string, "
        "`Submitter's industry` string",
    )
    plan = _physical_plan(process_financial_documents(filings, companies))
    assert plan.count("MapInPandas") == 1, plan
    assert "Union" not in plan, plan
