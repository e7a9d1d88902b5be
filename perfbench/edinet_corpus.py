"""Seeded synthetic EDINET corpus, the disk-backed fetcher that serves
it, and the pipeline's expected output.

``build_corpus`` writes, under one directory:

- ``EdinetcodeDlInfo.csv``: a cp932 company master the size of the real
  one (11,000 rows), with unlisted, non-consolidated and unnamed rows
  that the pipeline's company filter drops;
- ``api/{date}.json``: one list-API response per day of the window;
- ``zips/{docID}.zip``: one filing ZIP per listed document, a UTF-16
  TSV filing (CSV flag set) or an XBRL instance (XBRL flag only), next
  to a smaller auditor file of the same extension.

Fixed shares of the listed documents are amended (``130``), of an
off-target type, filed by an unknown company, carry neither flag, or
have a corrupt ZIP, a ZIP with no matching member, or a filing without
its fiscal-year (DEI) fact.  Inside good filings some revenue facts
carry a value that does not cast or an unknown context.  Some list
dates and downloads fail transiently (they recover on retry) or
permanently (they are dropped).

``expected_output`` replays the pipeline's documented semantics on the
generator's own records (not on the files) and returns the output rows
as a multiset, the drop count per reason, the row count after each
pipeline stage and the number of fetch calls one pipeline execution
makes.
"""

from __future__ import annotations

import io
import json
import zipfile
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

import numpy as np

from edinet_etl_spark.pipeline.transform import YEAR_OFFSETS
from edinet_etl_spark.sources.edinet_api import Fetcher

N_COMPANIES = 11_000
START_DATE, END_DATE = "2024-01-01", "2024-12-31"
TARGET_TYPES = ("120", "130")
MAX_RETRIES = 3

_MASTER_HEADER = [
    "EDINET Code", "Type of Submitter", "Listed company / Unlisted company",
    "Consolidated / NonConsolidated", "Capital stock", "account closing date",
    "Submitter Name", "Submitter Name（alphabetic）", "Submitter Name（phonetic）",
    "Province", "Submitter's industry", "Securities Identification Code",
    "Submitter's Japan Corporate Number",
]
_INDUSTRIES = [
    "Foods", "Textiles", "Pulp and Paper", "Chemicals", "Pharmaceutical",
    "Oil and Coal", "Rubber", "Glass and Ceramics", "Iron and Steel",
    "Nonferrous Metals", "Metal Products", "Machinery", "Electric Appliances",
    "Transportation Equipment", "Precision Instruments", "Construction",
    "Wholesale Trade", "Retail Trade", "Banks", "Insurance", "Real Estate",
    "Land Transportation", "Information and Communication", "Services",
]
_PROVINCES = ["東京都", "大阪府", "愛知県", "福岡県", "北海道", "京都府"]
_REVENUE_ELEMENTS = ["jpcrp_cor:NetSalesSummaryOfBusinessResults", "jpcrp_cor:RevenueIFRSSummaryOfBusinessResults", "jppfs_cor:NetSales"]
_FILLER_ELEMENTS = [
    "jppfs_cor:CostOfSales", "jppfs_cor:GrossProfit", "jppfs_cor:OperatingIncome",
    "jppfs_cor:OrdinaryIncome", "jppfs_cor:ProfitLoss", "jppfs_cor:Assets",
    "jppfs_cor:Liabilities", "jppfs_cor:NetAssets", "jpcrp_cor:NumberOfEmployees",
]
_FILLER_CONTEXTS = ["CurrentYearInstant", "Prior1YearInstant", "CurrentYearDuration_NonConsolidatedMember", "FilingDateInstant"]
_CONTEXTS = list(YEAR_OFFSETS)
_CSV_HEADER = ["要素ID", "コンテキストID", "値", "ユニットID"]
_XBRL_NS = (
    'xmlns:jpdei_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpdei/2013-08-31/jpdei_cor" '
    'xmlns:jpcrp_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpcrp/2023-12-01/jpcrp_cor" '
    'xmlns:jppfs_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jppfs/2023-12-01/jppfs_cor"'
)

# Shares of listed documents by kind; "ok" takes the rest.
KIND_SHARES = {
    "off_target_type": 0.05,
    "unknown_company": 0.05,
    "no_flags": 0.02,
    "corrupt_zip": 0.02,
    "no_match_zip": 0.02,
    "no_dei": 0.03,
}
AMENDED_SHARE = 0.08  # of good documents: a 130 filing for a company that also filed a 120
XBRL_SHARE = 0.25  # of filings: XBRL flag only
BAD_CAST_SHARE = 0.10  # of revenue facts
UNKNOWN_CONTEXT_SHARE = 0.05  # of revenue facts
TRANSIENT_SHARE = 0.05  # of fetch keys: fail once or twice, then succeed
PERMANENT_SHARE = 0.02  # of fetch keys: never succeed


@dataclass
class Fact:
    context: str
    value: str
    unit: str | None


@dataclass
class Doc:
    doc_id: str
    date_str: str
    code: str
    doc_type: str
    csv_flag: str
    xbrl_flag: str
    submit: str
    payload: str  # ok | corrupt_zip | no_match_zip | no_dei
    fiscal_year: int
    mask: str
    facts: list[Fact] = field(default_factory=list)


@dataclass
class Corpus:
    root: Path
    companies: dict[str, tuple[str, str]]  # target code -> (alphabetic name, industry)
    docs: list[Doc]
    list_dates: list[str]
    failures: dict[str, int]  # fetch key -> failing attempts (> MAX_RETRIES: permanent)

    @property
    def master_csv(self) -> str:
        return str(self.root / "EdinetcodeDlInfo.csv")


class CorpusFetcher(Fetcher):
    """Zero-latency, disk-backed ``Fetcher`` over a built corpus.

    Failures are injected deterministically by key: key ``k`` raises
    ``OSError`` on its first ``failures[k]`` attempts within one task.
    Every call adds one to ``calls``, and every call that repeats a key
    already attempted in the task adds one to ``retries`` (both Spark
    accumulators, so counts from executor tasks reach the driver)."""

    def __init__(self, root: str, failures: dict[str, int], calls, retries):
        self.root = str(root)
        self.failures = failures
        self.calls = calls
        self.retries = retries
        self._attempts: Counter = Counter()

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_attempts"] = Counter()
        return state

    def _attempt(self, key: str) -> None:
        n = self._attempts[key]
        self._attempts[key] = n + 1
        self.calls.add(1)
        if n:
            self.retries.add(1)
        if n < self.failures.get(key, 0):
            raise OSError(f"injected fetch failure #{n + 1} for {key}")

    def fetch_list(self, date_str: str) -> bytes:
        self._attempt(f"list:{date_str}")
        return (Path(self.root) / "api" / f"{date_str}.json").read_bytes()

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        self._attempt(f"doc:{doc_id}")
        return (Path(self.root) / "zips" / f"{doc_id}.zip").read_bytes()


def _dates() -> list[str]:
    d0, d1 = date.fromisoformat(START_DATE), date.fromisoformat(END_DATE)
    return [(d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]


def _master(rng: np.random.Generator) -> tuple[bytes, dict[str, tuple[str, str]]]:
    lines = [",".join(_MASTER_HEADER)]
    targets: dict[str, tuple[str, str]] = {}
    for i in range(1, N_COMPANIES + 1):
        code = f"E{i:05d}"
        u = rng.random()
        listed = "Unlisted company" if u < 0.25 else "Listed company"
        consolidated = "NonConsolidated" if 0.25 <= u < 0.40 else "Consolidated"
        name = "" if 0.40 <= u < 0.45 else f"Company {i:05d} Holdings"
        industry = _INDUSTRIES[int(rng.integers(0, len(_INDUSTRIES)))]
        if name and listed == "Listed company" and consolidated == "Consolidated":
            targets[code] = (name, industry)
        lines.append(",".join([
            code, "内国法人・組合", listed, consolidated, str(int(rng.integers(10, 90000)) * 1000),
            "3.31", f"株式会社{i:05d}", name, f"かぶしきがいしゃ{i:05d}",
            _PROVINCES[i % len(_PROVINCES)], industry, f"{i:04d}0", f"{1000000000000 + i}",
        ]))
    return "\r\n".join(lines).encode("cp932"), targets


def _revenue_facts(rng: np.random.Generator) -> list[Fact]:
    facts = []
    for ctx in _CONTEXTS:
        r = rng.random()
        if r < BAD_CAST_SHARE:
            value = str(rng.choice(["△1,234", "12a", "unknown"]))
        else:
            value = str(int(rng.integers(1_000_000, 5_000_000_000)))
        if rng.random() < UNKNOWN_CONTEXT_SHARE:
            ctx = "Prior5YearDuration"
        facts.append(Fact(ctx, value, None if rng.random() < 0.1 else "JPY"))
    return facts


def _csv_filing(doc: Doc, rng: np.random.Generator, n_filler: int) -> bytes:
    rows = [["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", doc.code, ""]]
    for f in doc.facts:
        rows.append([doc.mask, f.context, f.value, f.unit or ""])
        for _ in range(int(rng.integers(0, 2 * n_filler // 5 + 1))):
            rows.append(_filler_row(rng))
    # a sixth revenue fact beyond the pipeline's head-5 window
    rows.append([doc.mask, "Prior1YearDuration", "1", "JPY"])
    rows.extend(_filler_row(rng) for _ in range(n_filler))
    if doc.payload != "no_dei":
        rows.append(["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant", f"{doc.fiscal_year}-03-31", ""])
    text = "\n".join("\t".join(r) for r in [_CSV_HEADER] + rows)
    return text.encode("utf-16")


def _filler_row(rng: np.random.Generator) -> list[str]:
    return [
        _FILLER_ELEMENTS[int(rng.integers(0, len(_FILLER_ELEMENTS)))],
        _FILLER_CONTEXTS[int(rng.integers(0, len(_FILLER_CONTEXTS)))],
        str(int(rng.integers(0, 10**9))),
        "JPY",
    ]


def _xbrl_filing(doc: Doc, rng: np.random.Generator, n_filler: int) -> bytes:
    parts = [f"<xbrli:xbrl {_XBRL_NS} xmlns:xbrli=\"http://www.xbrl.org/2003/instance\">"]
    parts.append(f'  <jpdei_cor:EDINETCodeDEI contextRef="FilingDateInstant">{doc.code}</jpdei_cor:EDINETCodeDEI>')
    if doc.payload != "no_dei":
        parts.append(
            f'  <jpdei_cor:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">'
            f"{doc.fiscal_year}-03-31</jpdei_cor:CurrentPeriodEndDateDEI>"
        )
    parts.append('  <jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>')
    tag = doc.mask
    for f in doc.facts:
        unit = f' unitRef="{f.unit}"' if f.unit else ""
        parts.append(f'  <{tag} contextRef="{f.context}"{unit} decimals="-6">{_xml_escape(f.value)}</{tag}>')
    for _ in range(n_filler):
        el, ctx, value, _unit = _filler_row(rng)
        parts.append(f'  <{el} contextRef="{ctx}" unitRef="JPY" decimals="0">{value}</{el}>')
    parts.append("</xbrli:xbrl>")
    return "\n".join(parts).encode("utf-8")


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _zip(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _payload_zip(doc: Doc, rng: np.random.Generator, n_filler: int) -> bytes:
    if doc.payload == "corrupt_zip":
        return b"PK\x03\x04" + rng.bytes(64)
    if doc.csv_flag == "1":
        if doc.payload == "no_match_zip":
            return _zip({"XBRL/PublicDoc/manifest.txt": b"no csv member"})
        return _zip({
            f"XBRL_TO_CSV/jpcrp030000-asr-001_{doc.code}-000.csv": _csv_filing(doc, rng, n_filler),
            f"XBRL_TO_CSV/jpaud-aar-cn-001_{doc.code}-000.csv": "\t".join(_CSV_HEADER).encode("utf-16"),
        })
    if doc.payload == "no_match_zip":
        return _zip({"XBRL/PublicDoc/manifest.txt": b"no xbrl member"})
    return _zip({
        f"XBRL/PublicDoc/jpcrp030000-asr-001_{doc.code}-000.xbrl": _xbrl_filing(doc, rng, n_filler),
        f"XBRL/AuditDoc/jpaud-aar-cn-001_{doc.code}-000.xbrl": b"<xbrl/>",
    })


def build_corpus(root: str | Path, seed: int, n_docs: int, n_filler: int) -> Corpus:
    """Write a corpus of ``n_docs`` listed documents, each good filing
    carrying about ``n_filler`` non-revenue facts, under ``root``."""
    rng = np.random.default_rng(seed)
    root = Path(root)
    (root / "api").mkdir(parents=True, exist_ok=True)
    (root / "zips").mkdir(parents=True, exist_ok=True)
    master, companies = _master(rng)
    (root / "EdinetcodeDlInfo.csv").write_bytes(master)
    codes = sorted(companies)
    dates = _dates()
    kinds = list(KIND_SHARES)
    p_kinds = np.array(list(KIND_SHARES.values()) + [1.0 - sum(KIND_SHARES.values())])

    docs: list[Doc] = []
    for i in range(n_docs):
        kind = (kinds + ["ok"])[int(rng.choice(len(p_kinds), p=p_kinds))]
        d = dates[int(rng.integers(0, len(dates)))]
        code = codes[int(rng.integers(0, len(codes)))]
        if kind == "unknown_company":
            code = f"E{int(rng.integers(1, N_COMPANIES + 1)):05d}" if rng.random() < 0.5 else f"E9{i:04d}"
            code = code if code not in companies else f"E9{i:04d}"
        doc_type = str(rng.choice(["140", "160", "350"])) if kind == "off_target_type" else "120"
        xbrl_only = rng.random() < XBRL_SHARE
        csv_flag, xbrl_flag = ("0", "1") if xbrl_only else ("1", str(int(rng.integers(0, 2))))
        if kind == "no_flags":
            csv_flag, xbrl_flag = "0", "0"
        payload = kind if kind in ("corrupt_zip", "no_match_zip", "no_dei") else "ok"
        doc = Doc(
            doc_id=f"S1{i:06X}", date_str=d, code=code, doc_type=doc_type,
            csv_flag=csv_flag, xbrl_flag=xbrl_flag,
            submit=f"{d} {int(rng.integers(9, 18)):02d}:{int(rng.integers(0, 60)):02d}",
            payload=payload, fiscal_year=int(rng.choice([2023, 2024])),
            mask=_REVENUE_ELEMENTS[int(rng.integers(0, len(_REVENUE_ELEMENTS)))],
            facts=_revenue_facts(rng),
        )
        docs.append(doc)
        if kind == "ok" and rng.random() < AMENDED_SHARE:
            later = dates[min(len(dates) - 1, dates.index(d) + int(rng.integers(0, 30)))]
            docs.append(Doc(
                doc_id=f"S2{i:06X}", date_str=later, code=code, doc_type="130",
                csv_flag=csv_flag, xbrl_flag=xbrl_flag, submit=f"{later} 15:00",
                payload="ok", fiscal_year=doc.fiscal_year, mask=doc.mask,
                facts=_revenue_facts(rng),
            ))

    failures: dict[str, int] = {}
    for key in [f"list:{d}" for d in dates] + [f"doc:{doc.doc_id}" for doc in docs]:
        u = rng.random()
        if u < PERMANENT_SHARE:
            failures[key] = MAX_RETRIES + 1
        elif u < PERMANENT_SHARE + TRANSIENT_SHARE:
            failures[key] = int(rng.integers(1, MAX_RETRIES + 1))

    by_date: dict[str, list[dict]] = {d: [] for d in dates}
    for doc in docs:
        by_date[doc.date_str].append({
            "seqNumber": len(by_date[doc.date_str]) + 1, "docID": doc.doc_id,
            "edinetCode": doc.code, "secCode": None, "filerName": f"Filer {doc.code}",
            "docTypeCode": doc.doc_type, "periodStart": "2023-04-01", "periodEnd": "2024-03-31",
            "submitDateTime": doc.submit, "docDescription": "有価証券報告書",
            "xbrlFlag": doc.xbrl_flag, "pdfFlag": "1", "csvFlag": doc.csv_flag,
        })
        (root / "zips" / f"{doc.doc_id}.zip").write_bytes(_payload_zip(doc, rng, n_filler))
    for d, results in by_date.items():
        payload = {
            "metadata": {"title": "提出された書類を把握するためのAPI", "parameter": {"date": d, "type": "2"},
                         "resultset": {"count": len(results)}, "status": "200", "message": "OK"},
            "results": results,
        }
        (root / "api" / f"{d}.json").write_text(json.dumps(payload, ensure_ascii=False), encoding="utf-8")
    return Corpus(root, companies, docs, dates, failures)


@dataclass
class Expected:
    rows: Counter  # (year, companyname, industry, geonameen, revenue, unit) as strings
    drops: dict[str, int]
    stage_rows: dict[str, int]
    fetch_calls: int


def _calls(failures: dict[str, int], key: str) -> int:
    return min(failures.get(key, 0), MAX_RETRIES) + 1


def expected_output(corpus: Corpus) -> Expected:
    """Replay the pipeline's semantics on the generator's records."""
    failures = corpus.failures
    drops: Counter = Counter()
    fetch_calls = sum(_calls(failures, f"list:{d}") for d in corpus.list_dates)
    lost_dates = {d for d in corpus.list_dates if failures.get(f"list:{d}", 0) > MAX_RETRIES}
    listed = [doc for doc in corpus.docs if doc.date_str not in lost_dates]
    drops["list_fetch_failed"] = len(corpus.docs) - len(listed)
    targeted = []
    for doc in listed:
        if doc.code not in corpus.companies:
            drops["unknown_company"] += 1
        elif doc.doc_type not in TARGET_TYPES:
            drops["off_target_type"] += 1
        else:
            targeted.append(doc)
    dispatched = [doc for doc in targeted if "1" in (doc.csv_flag, doc.xbrl_flag)]
    drops["no_flags"] = len(targeted) - len(dispatched)
    fetch_calls += sum(_calls(failures, f"doc:{doc.doc_id}") for doc in dispatched)
    downloaded = [doc for doc in dispatched if failures.get(f"doc:{doc.doc_id}", 0) <= MAX_RETRIES]
    drops["download_failed"] = len(dispatched) - len(downloaded)
    filings = []
    for doc in downloaded:
        if doc.payload in ("corrupt_zip", "no_match_zip"):
            drops[doc.payload] += 1
        else:
            filings.append(doc)

    # best filing per company: any 130 beats 120; the last-seen 130 and
    # the first-seen 120 win (arrival order = (date, docID))
    best: dict[str, Doc] = {}
    for doc in sorted(filings, key=lambda x: (x.date_str, x.doc_id)):
        cur = best.get(doc.code)
        if cur is None or doc.doc_type == "130":
            best[doc.code] = doc
    drops["superseded"] = len(filings) - len(best)

    rows: Counter = Counter()
    n_facts = 0
    for doc in best.values():
        if doc.payload == "no_dei":
            drops["no_dei"] += 1
            continue
        name, industry = corpus.companies[doc.code]
        for f in doc.facts[:5]:
            n_facts += 1
            if f.context not in YEAR_OFFSETS:
                drops["unknown_context"] += 1
            elif not f.value.isdigit():
                drops["bad_cast"] += 1
            else:
                year = doc.fiscal_year + YEAR_OFFSETS[f.context]
                rows[(str(year), name, industry, "Japan", f.value, f.unit or "JPY")] += 1
    stage_rows = {
        "company_master": len(corpus.companies),
        "list": len(listed),
        "filter": len(targeted),
        "download": len(downloaded),
        "zip_extract": len(filings),
        "facts": n_facts,
        "rows": sum(rows.values()),
    }
    return Expected(rows, dict(drops), stage_rows, fetch_calls)
