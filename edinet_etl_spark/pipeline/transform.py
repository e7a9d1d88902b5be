"""Filing-transform stage (X1/S5/A1/J1/J3/P7-P11/L2/F4-F13).

Reference behavior (``/root/reference/src/transform.py``): pick one
filing per company (type '130' amended beats '120'), parse each filing
(UTF-16 TSV or XBRL) into (context, value, unit) rows, decode relative
years against the fiscal year, skip bad casts/unknown contexts, enrich
with the company dimension, emit
``[year, companyname, industryclassification, geonameen, revenue,
revenue_unit]``.

Spark-first shape: logic that needs one filing runs in the one
``mapInPandas`` island that holds that filing's bytes — the parse, the
dynamic revenue mask, the head-5 limit and the fiscal-year extract, with
a small parser per format (``_filing_facts``).  Logic that needs several
filings is declarative — the year decode, cast-skip and the dimension
join — so one Catalyst plan covers all files at once.

The best-filing dedup (A1) is one order, ``a1_order``, over metadata
only, applied two ways.  On the HTTP path ``best_filing_facts`` ranks
each company's docs *before* any download and walks them in that
order: it fetches, unzips and parses the first doc that yields a
filing and fetches none after it, so only metadata is shuffled.  On
the lake path the bytes are already landed, so
``select_best_filings`` ranks the filing rows with a window and
``revenue_facts`` parses the winners.

The reference identifies a filing by the name it wrote to disk and
splits that name back into company code and doc type.  Here every row
carries the document's key (``date_str``, ``docID``, ``edinetCode``,
``docTypeCode``) from the list to the join: A1 orders by it, and the
company join reads ``edinetCode`` itself.
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edinet_etl_spark.sources.edinet_api import (
    ARRIVAL,
    Fetcher,
    RetryPolicy,
    _PartitionLimiter,
    fetch_zip,
)
from edinet_etl_spark.sources.zip_extract import filing_member

# J3: relative-year decode (src/transform.py:171-177).
YEAR_OFFSETS = {
    "CurrentYearDuration": 0,
    "Prior1YearDuration": -1,
    "Prior2YearDuration": -2,
    "Prior3YearDuration": -3,
    "Prior4YearDuration": -4,
}

# One row per revenue fact: the filing's key, then the parsed fact.
_FACT_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ["docID", "edinetCode", "context_ref", "value"]]
    + [T.StructField("unit_ref", T.StringType()), T.StructField("fiscal_year", T.IntegerType())]
)

_CSV_FISCAL_DEI = "jpdei_cor:CurrentFiscalYearEndDateDEI"


# A1 reads only filings whose carried key has the shape the reference's
# name pattern accepts (``src/transform.py:120,127-128``): a lake name
# comes from outside the program.
FILING_KEY_SHAPE = "edinetCode RLIKE '^E[0-9]+$' AND docTypeCode RLIKE '^[0-9]+$'"


def a1_order() -> list[Column]:
    """A1's rank of one company's filings, best first
    (``src/transform.py:109-145``): any type-'130' filing beats non-130;
    among 130s the reference's ``company_files[code] = path`` overwrite
    means the *last-seen* 130 wins, while among non-130s the dict-insert
    guard means the *first-seen* wins — both in ``ARRIVAL`` order
    (SURVEY §2.11d).  The order reads metadata only."""
    is_130 = F.col("docTypeCode") == "130"
    arrival = F.struct(*ARRIVAL)
    return [F.desc(is_130), F.desc(F.when(is_130, arrival)), F.asc(arrival)]


def select_best_filings(filings: DataFrame) -> DataFrame:
    """A1 priority dedup over filing rows: per company, the first
    filing in ``a1_order``.  The lake path ranks with this window; the
    HTTP path ranks before it fetches (``best_filing_facts``)."""
    w = Window.partitionBy("edinetCode").orderBy(*a1_order())
    return (
        filings.filter(FILING_KEY_SHAPE)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _fiscal_year(dei_values: Iterable[str | None]) -> int | None:
    """P8: the year of the first DEI value that parses as a date, or
    None — the filing is then skipped, which fixes the reference's
    unbound-``fiscal_year`` bug (SURVEY §2.11a)."""
    for value in dei_values:
        try:
            ts = pd.to_datetime(value)
        except (ValueError, OverflowError):
            continue
        if not pd.isna(ts):
            return ts.year
    return None


def _text(v) -> str | None:
    return None if pd.isna(v) else str(v)


def _csv_facts(data: bytes) -> tuple[int | None, list[tuple]]:
    """S5/P7/L2 (``src/transform.py:77-106``): UTF-16 tab-separated
    filing; revenue rows = the first 5 rows (file order, ``:98``) whose
    ``要素ID`` equals the one at positional row 1 (pandas ``df.loc[1]``,
    ``:94``) — none when that ID is missing, since NaN equals nothing;
    fiscal year from the DEI rows (``:99-102``)."""
    try:
        df = pd.read_csv(io.BytesIO(data), sep="\t", encoding="utf-16")
    except ValueError:  # bad UTF-16 or unparseable table → skip
        return None, []
    n = len(df)
    ids = [_text(v) for v in df.get("要素ID", [""] * n)]
    contexts = [str(v) for v in df.get("コンテキストID", [""] * n)]
    values = [_text(v) for v in df.get("値", [None] * n)]
    units = [_text(v) for v in df.get("ユニットID", [None] * n)]
    fiscal_year = _fiscal_year(v for i, v in zip(ids, values) if i == _CSV_FISCAL_DEI)
    if n < 2 or ids[1] is None:
        return fiscal_year, []
    rows = zip(ids, contexts, values, units)
    return fiscal_year, [(c, v, u) for i, c, v, u in rows if i == ids[1]][:5]


def _xbrl_facts(data: bytes) -> tuple[int | None, list[tuple]]:
    """X1 (``src/transform.py:11-74``): fiscal year from the
    ``CurrentPeriodEndDateDEI`` elements; revenue rows = those of the 5
    elements after the first ``NumberOfSubmissionDEI`` marker that carry
    a contextRef and text; ``unitRef`` defaults to 'JPY' (F13)."""
    try:
        root = ET.fromstring(data)
    except (ET.ParseError, LookupError, ValueError):
        # malformed XML, or a declared encoding that is unknown
        # (LookupError) or multi-byte (ValueError) → skip
        return None, []
    elements = list(root.iter())
    fiscal_year = _fiscal_year(
        e.text for e in elements if e.tag.endswith("CurrentPeriodEndDateDEI") and e.text
    )
    marker = next(
        (i for i, e in enumerate(elements) if "NumberOfSubmissionDEI" in e.tag), None
    )
    if marker is None:
        return fiscal_year, []
    return fiscal_year, [
        (e.get("contextRef"), e.text, e.get("unitRef", "JPY"))
        for e in elements[marker + 1 : marker + 6]
        if e.get("contextRef") and e.text
    ]


_PARSERS = {"csv": _csv_facts, "xbrl": _xbrl_facts}


def _filing_facts(doc_id: str, code: str, file_type: str, data: bytes) -> list[tuple]:
    """One filing's ``_FACT_SCHEMA`` rows: its bytes go to its format's
    parser, and its revenue rows come out tagged with its fiscal year.
    A filing that does not parse or has no fiscal year gives none."""
    parser = _PARSERS.get(file_type)
    if parser is None:
        return []
    fiscal_year, facts = parser(data)
    if fiscal_year is None:
        return []
    return [(doc_id, code, *fact, fiscal_year) for fact in facts]


def revenue_facts(filings: DataFrame) -> DataFrame:
    """P12 format dispatch inside one island: ``_filing_facts`` for
    each filing row."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in zip(pdf["docID"], pdf["edinetCode"], pdf["file_type"], pdf["member_bytes"]):
                rows.extend(_filing_facts(*row))
            yield pd.DataFrame(rows, columns=_FACT_SCHEMA.fieldNames())

    return filings.select("docID", "edinetCode", "file_type", "member_bytes").mapInPandas(
        parse, schema=_FACT_SCHEMA
    )


def best_filing_facts(
    docs: DataFrame, fetcher: Fetcher, policy: RetryPolicy, num_partitions: int
) -> DataFrame:
    """S3 + S4 + A1 + parse for dispatched docs (``dispatch_head``'s
    output) in one island that fetches only what A1 can keep.

    ``a1_order`` reads metadata only, and its one other input is
    whether a doc yields a filing: the download succeeds and
    ``filing_member`` finds a member.  So walking a company's docs in
    that order and stopping at the first one that yields a filing
    picks the filing ``select_best_filings`` picks after fetching all
    of them.  A winner that does not parse still wins and emits
    nothing, as it does there.

    Only metadata crosses the shuffle: ``num_partitions`` tasks by
    ``edinetCode``, each sorted by company then ``a1_order``.  A
    repartition to a fixed count keeps exactly that many fetch tasks
    (AQE does not coalesce it), so the per-task rate limits still sum
    to the global budget.  The island emits ``_FACT_SCHEMA`` rows and
    holds one ZIP at a time."""
    per_partition_rate = policy.requests_per_second / max(num_partitions, 1)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = _PartitionLimiter(per_partition_rate)
        won = None  # the last company whose filing was found; its rows are contiguous
        for pdf in batches:  # a company's rows may span two batches
            rows = []
            for doc_id, code, file_type, api_type in zip(
                pdf["docID"], pdf["edinetCode"], pdf["file_type"], pdf["api_type"]
            ):
                if code == won:
                    continue
                content = fetch_zip(fetcher, doc_id, api_type, policy, limiter)
                member = None if content is None else filing_member(content, file_type)
                if member is not None:
                    won = code
                    rows.extend(_filing_facts(doc_id, code, file_type, member))
            yield pd.DataFrame(rows, columns=_FACT_SCHEMA.fieldNames())

    return (
        docs.filter(FILING_KEY_SHAPE)
        .select(*ARRIVAL, "edinetCode", "docTypeCode", "file_type", "api_type")
        .repartition(num_partitions, "edinetCode")
        .sortWithinPartitions("edinetCode", *a1_order())
        .mapInPandas(walk, schema=_FACT_SCHEMA)
    )


def decode_and_enrich(facts: DataFrame, companies: DataFrame) -> DataFrame:
    """J3+P11 year decode, P10 cast-skip, F13 unit default, J1
    broadcast company join, final schema (``src/transform.py:187-213``).

    The 5-key year map is a literal ``create_map`` lookup — unknown
    contexts look up null and are filtered out, exactly like the
    reference's ``year_mapping.get(...) is None: continue``."""
    offsets = F.create_map(*[F.lit(x) for pair in YEAR_OFFSETS.items() for x in pair])
    dim = companies.select(
        F.col("EDINET Code").alias("edinetCode"),
        F.col("Submitter Name（alphabetic）").alias("companyname"),
        F.col("Submitter's industry").alias("industryclassification"),
    )
    return (
        facts.withColumn("year_offset", offsets[F.col("context_ref")])  # J3
        .filter(F.col("year_offset").isNotNull())  # P11
        .withColumn("revenue", F.col("value").try_cast("long"))  # F10
        .filter(F.col("revenue").isNotNull())  # P10
        .join(F.broadcast(dim), "edinetCode", "inner")  # J1 + P9
        .select(
            (F.col("fiscal_year") + F.col("year_offset")).alias("year"),  # F11
            "companyname",
            "industryclassification",
            F.lit("Japan").alias("geonameen"),  # F12
            "revenue",
            F.coalesce(F.col("unit_ref"), F.lit("JPY")).alias("revenue_unit"),  # F13
        )
    )


def process_financial_documents(filings: DataFrame, companies: DataFrame) -> DataFrame:
    """The reference's ``process_financial_documents`` as one lazy
    plan over filing rows (the lake path): A1 best-filing dedup →
    parse → decode → enrich."""
    return decode_and_enrich(revenue_facts(select_best_filings(filings)), companies)
