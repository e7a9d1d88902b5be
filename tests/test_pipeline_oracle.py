"""The generator oracle over both ingestion paths.

``perfbench.edinet_corpus`` builds seeded EDINET corpora with injected
list and download failures, corrupt and member-less ZIPs, filings
without a fiscal year, amended (``130``) filings, bad casts and unknown
contexts, and ``expected_output`` replays the pipeline's semantics on
the generator's own records.  Each corpus runs twice:

- the HTTP path: ``run_pipeline`` with ``CorpusFetcher``; the CSV
  multiset must equal the oracle's rows, and the fetch calls must equal
  a winners-first count computed here from the corpus records: each
  company's docs are fetched in A1 order up to the first one that yields
  a filing;
- the lake path: the ZIPs of every doc that downloads, landed in
  ``binary_lake``'s ``dt=`` layout, through ``read_filing_lake`` →
  ``extract_filings`` → ``process_financial_documents``; the same rows.

So the walker and the window answer to one oracle.  A company has two
amended filings only by chance, since the generator draws companies
from about 6,000; at 2,000 docs two of the three seeds have one, which
is what lets the test tell the last-seen ``130`` from the first-seen.
"""

from __future__ import annotations

import csv
import shutil
from collections import Counter, defaultdict
from pathlib import Path

import pytest

from edinet_etl_spark.pipeline.config import PipelineConfig
from edinet_etl_spark.pipeline.etl import run_pipeline
from edinet_etl_spark.pipeline.transform import process_financial_documents
from edinet_etl_spark.sources import company_master
from edinet_etl_spark.sources.binary_lake import read_filing_lake
from edinet_etl_spark.sources.zip_extract import extract_filings
from perfbench.edinet_corpus import (
    END_DATE,
    MAX_RETRIES,
    START_DATE,
    TARGET_TYPES,
    CorpusFetcher,
    _calls,
    build_corpus,
    expected_output,
)

pytestmark = pytest.mark.deep

SEEDS = (1, 2, 3)
N_DOCS = 2000
N_FILLER = 2


@pytest.fixture(scope="module")
def corpora(tmp_path_factory) -> dict:
    """Seed → (corpus, expected output)."""
    out = {}
    for seed in SEEDS:
        c = build_corpus(tmp_path_factory.mktemp(f"corpus{seed}"), seed, N_DOCS, N_FILLER)
        out[seed] = (c, expected_output(c))
    return out


def _downloads(failures: dict[str, int], doc) -> bool:
    return failures.get(f"doc:{doc.doc_id}", 0) <= MAX_RETRIES


def _candidates(c) -> dict[str, list]:
    """Per company, the docs that are listed, targeted and dispatched."""
    lost = {d for d in c.list_dates if c.failures.get(f"list:{d}", 0) > MAX_RETRIES}
    out = defaultdict(list)
    for doc in c.docs:
        if (
            doc.date_str not in lost
            and doc.code in c.companies
            and doc.doc_type in TARGET_TYPES
            and "1" in (doc.csv_flag, doc.xbrl_flag)
        ):
            out[doc.code].append(doc)
    return out


def _yields_filing(c, doc) -> bool:
    return _downloads(c.failures, doc) and doc.payload not in ("corrupt_zip", "no_match_zip")


def _winners_first_calls(c) -> int:
    """List calls, then each company's docs in A1 order — 130s latest
    first, then the rest earliest first — up to the first that yields a
    filing."""
    calls = sum(_calls(c.failures, f"list:{d}") for d in c.list_dates)
    for docs in _candidates(c).values():
        arrival = lambda d: (d.date_str, d.doc_id)  # noqa: E731
        amended = sorted((d for d in docs if d.doc_type == "130"), key=arrival, reverse=True)
        ranked = amended + sorted((d for d in docs if d.doc_type != "130"), key=arrival)
        for doc in ranked:
            calls += _calls(c.failures, f"doc:{doc.doc_id}")
            if _yields_filing(c, doc):
                break
    return calls


def _csv_rows(out_dir: str | None) -> Counter:
    rows: Counter = Counter()
    for part in sorted(Path(out_dir).glob("part-*.csv")) if out_dir else []:
        with part.open(newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            next(reader, None)
            rows.update(tuple(r) for r in reader)
    return rows


def test_corpora_tell_last_seen_from_first_seen_130(corpora):
    """Some company has two amended docs that yield filings, so keeping
    the first-seen 130 instead of the last-seen one changes the rows."""
    assert any(
        sum(d.doc_type == "130" and _yields_filing(c, d) for d in docs) > 1
        for c, _ in corpora.values()
        for docs in _candidates(c).values()
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_http_pipeline_matches_oracle(spark, corpora, seed, tmp_path):
    """``run_pipeline`` writes the oracle's rows and fetches winners
    first: fewer calls than downloading every dispatched doc."""
    c, expected = corpora[seed]
    calls, retries = spark.sparkContext.accumulator(0), spark.sparkContext.accumulator(0)
    cfg = PipelineConfig(
        csv_file=c.master_csv,
        output_dir=str(tmp_path),
        start_date=START_DATE,
        end_date=END_DATE,
        request_per_second=0,
        max_retries=MAX_RETRIES,
        retry_delay=0.001,
        companies_to_get=None,
        fetch_partitions=4,
    )
    written = run_pipeline(spark, cfg, CorpusFetcher(c.root, c.failures, calls, retries))
    assert _csv_rows(written) == expected.rows
    assert calls.value == _winners_first_calls(c)
    assert calls.value < expected.fetch_calls


@pytest.mark.parametrize("seed", SEEDS)
def test_lake_pipeline_matches_oracle(spark, corpora, seed, tmp_path):
    """The ZIPs of every dispatched doc that downloads, landed as
    ``dt={date}/{docID}_{edinetCode}_{docTypeCode}_{fileType}.zip``,
    give the oracle's rows through the lake path."""
    c, expected = corpora[seed]
    for docs in _candidates(c).values():
        for doc in docs:
            if _downloads(c.failures, doc):
                file_type = "5" if doc.csv_flag == "1" else "1"
                name = f"{doc.doc_id}_{doc.code}_{doc.doc_type}_{file_type}.zip"
                (tmp_path / f"dt={doc.date_str}").mkdir(exist_ok=True)
                shutil.copyfile(c.root / "zips" / f"{doc.doc_id}.zip", tmp_path / f"dt={doc.date_str}" / name)
    companies = company_master.extract_companies(spark, c.master_csv)
    final = process_financial_documents(extract_filings(read_filing_lake(spark, str(tmp_path))), companies)
    assert Counter(tuple(map(str, r)) for r in final.collect()) == expected.rows
