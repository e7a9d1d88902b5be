"""EDINET REST source (S2/S3/F2/P6/P13/J2 in SURVEY.md §2).

Reference behavior (``/root/reference/src/extract.py``):
- one metadata-list GET per day of the date range (``:72-127``),
  globally rate-limited to ``request_per_second`` (``:16-20``);
- retry with exponential backoff × jitter; after ``max_retries`` the
  failure is *swallowed* — that date/doc contributes no rows
  (``:121-141``, ``:211-231``);
- docs filtered to target companies (semi-join) and doc types
  (``:149-162``);
- per-doc download dispatched by csvFlag/xbrlFlag (``:173-186``).

Spark-first shape: the date range is a DataFrame, HTTP happens inside
a ``mapInPandas`` island (the only executor-boundary crossing, SURVEY
§3), and everything around it — JSON decoding, semi-join, flag
dispatch, limit — is declarative so Catalyst can optimize it.

One list-ingestion path: every list read goes through ``_fetch_raw``
(the retry loop) and ``_decode_list`` (``from_json`` → explode), over
the dates ``_iso_dates`` enumerates.  ``list_documents`` is the batch
form; ``stream_documents`` is the reference's daily polling loop as a
streaming read, one day per micro-batch.

Arrival order — the list date, then docID (SURVEY §2.11d) — is the
one rule ``ARRIVAL`` names.  It drives the head-N (L1) here and the
first-seen/last-seen A1 rule in ``pipeline.transform``; both sort by
the key columns themselves, so no stage materializes a rank, and no
global window puts every document in one task.

The HTTP client is injected (``Fetcher``) so tests run entirely
offline against recorded fixtures; ``HttpFetcher`` (stdlib urllib) is
the live implementation.  Rate limiting is per-partition: the global
budget R req/s is divided by the number of fetch partitions, matching
the reference's single *global* limiter semantics when summed.
"""

from __future__ import annotations

import random
import re
import time
import urllib.error
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Metadata fields consumed downstream (src/extract.py:158,173-186); the
# reference's ``submitDateTime`` only names the file it writes
# (src/utils/helper.py:82-85).  Booleans are the API's string flags.
DOC_META_SCHEMA = T.StructType(
    [
        T.StructField("docID", T.StringType()),
        T.StructField("edinetCode", T.StringType()),
        T.StructField("docTypeCode", T.StringType()),
        T.StructField("csvFlag", T.StringType()),
        T.StructField("xbrlFlag", T.StringType()),
    ]
)

LIST_RESPONSE_SCHEMA = T.StructType(
    [T.StructField("results", T.ArrayType(DOC_META_SCHEMA))]
)

# Arrival order (SURVEY §2.11d): list date, then result order (= docID).
ARRIVAL = ["date_str", "docID"]


class Fetcher:
    """Pluggable HTTP boundary.  Implementations must be picklable —
    instances are shipped to executors inside the fetch UDFs."""

    def fetch_list(self, date_str: str) -> bytes:
        """GET documents.json?date=...&type=2 → raw JSON bytes."""
        raise NotImplementedError

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        """GET documents/{docID}?type={1|5} → raw ZIP bytes."""
        raise NotImplementedError


class HttpFetcher(Fetcher):
    """Live client against the EDINET API (stdlib only; the reference
    uses requests + requests-ratelimiter, ``src/extract.py:7-20``)."""

    def __init__(self, base_url: str, api_key: str, timeout: float = 30.0):
        self.base_url = base_url.rstrip("/")
        self.api_key = api_key
        self.timeout = timeout

    def _get(self, url: str) -> bytes:
        import urllib.request

        # urlopen raises HTTPError (an OSError) for any 4xx/5xx before
        # returning, so no status check is needed here — the retry
        # wrapper catches it like any other OSError
        with urllib.request.urlopen(url, timeout=self.timeout) as resp:
            return resp.read()

    def fetch_list(self, date_str: str) -> bytes:
        return self._get(
            f"{self.base_url}/documents.json?date={date_str}&type=2"
            f"&Subscription-Key={self.api_key}"
        )

    def fetch_document(self, doc_id: str, file_type: str) -> bytes:
        return self._get(
            f"{self.base_url}/documents/{doc_id}?type={file_type}"
            f"&Subscription-Key={self.api_key}"
        )


@dataclass
class RetryPolicy:
    """Mirrors config/settings.env: MAX_RETRIES=3, RETRY_DELAY=1.0,
    REQUEST_PER_SECOND=10 (global)."""

    max_retries: int = 3
    retry_delay: float = 1.0
    requests_per_second: float = 10.0
    # jitter scale differs between the reference's two retry blocks:
    # 0.1+rand() for listing (src/extract.py:133), 0.5+rand() for
    # downloads (:222).
    jitter_base: float = 0.1


class _PartitionLimiter:
    """Token-interval limiter: one per task, budget = global/partitions."""

    def __init__(self, per_second: float):
        self.min_interval = 1.0 / per_second if per_second > 0 else 0.0
        self._last = 0.0

    def wait(self) -> None:
        if self.min_interval <= 0:
            return
        now = time.monotonic()
        sleep_for = self._last + self.min_interval - now
        if sleep_for > 0:
            time.sleep(sleep_for)
        self._last = time.monotonic()


def _is_client_error(e: OSError) -> bool:
    """An HTTP 4xx other than 429 (Too Many Requests)."""
    return (
        isinstance(e, urllib.error.HTTPError) and 400 <= e.code < 500 and e.code != 429
    )


def _with_retries(fn, policy: RetryPolicy, limiter: _PartitionLimiter):
    """Reference retry loop (src/extract.py:122-141): exponential
    backoff × jitter; final failure returns None (missing rows, not
    job failure).  Only ``OSError`` — HTTPError, URLError, timeouts —
    is swallowed; any other exception is a bug and fails the job.  A
    4xx other than 429 will not change on retry, so it returns None on
    the first attempt; 429, 5xx and other ``OSError``s are retried."""
    for attempt in range(policy.max_retries + 1):
        try:
            limiter.wait()
            return fn()
        except OSError as e:
            if _is_client_error(e):
                return None
            if attempt < policy.max_retries:
                wait = policy.retry_delay * (2**attempt)
                time.sleep(wait * (policy.jitter_base + random.random()))
    return None


def _fetch_raw(
    fetcher: Fetcher, date_str: str, policy: RetryPolicy, limiter: _PartitionLimiter
) -> str | None:
    """One day's list response as text, or None once retries run out."""
    raw = _with_retries(lambda: fetcher.fetch_list(date_str), policy, limiter)
    return None if raw is None else raw.decode("utf-8")


def _decode_list(fetched: DataFrame) -> DataFrame:
    """(date_str, raw_json) rows → one row per document, declaratively
    (``from_json`` + explode) so the optimizer sees past the fetch."""
    return (
        fetched.select(
            "date_str",
            F.from_json("raw_json", LIST_RESPONSE_SCHEMA).alias("resp"),
        )
        .select("date_str", F.explode_outer("resp.results").alias("doc"))
        .filter(F.col("doc").isNotNull())
        .select("date_str", "doc.*")
    )


def _iso_dates(start_date: str, end_date: str) -> list[str]:
    """The reference's day-step loop (``src/extract.py:107-111``):
    every 'yyyy-MM-dd' from start to end, both inclusive."""
    d0, d1 = date.fromisoformat(start_date), date.fromisoformat(end_date)
    return [(d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]


def date_range(spark: SparkSession, start_date: str, end_date: str) -> DataFrame:
    """F2: the date range as a DataFrame — column ``date_str``, the rows
    of ``_iso_dates``.  Built in the JVM (``range`` + ``date_add``), so
    the plan holds no Python-side rows; an empty range is 0 rows."""
    n_days = (date.fromisoformat(end_date) - date.fromisoformat(start_date)).days + 1
    day = F.date_add(F.lit(start_date).cast("date"), F.col("id").cast("int"))
    return spark.range(max(n_days, 0)).select(day.cast("string").alias("date_str"))


def list_documents(
    dates: DataFrame,
    fetcher: Fetcher,
    policy: RetryPolicy | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S2: per-date metadata fetch → one row per document.

    The fetch is a ``mapInPandas`` island emitting (date_str, raw
    JSON); ``_decode_list`` decodes it.  Dates that fail all retries
    emit nothing — the reference's swallow-and-continue semantics."""
    policy = policy or RetryPolicy()
    per_partition_rate = policy.requests_per_second / max(num_partitions, 1)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = _PartitionLimiter(per_partition_rate)
        for pdf in batches:
            rows = []
            for date_str in pdf["date_str"]:
                raw = _fetch_raw(fetcher, date_str, policy, limiter)
                if raw is not None:
                    rows.append((date_str, raw))
            yield pd.DataFrame(rows, columns=["date_str", "raw_json"])

    fetched = dates.repartition(num_partitions).mapInPandas(
        fetch, schema="date_str string, raw_json string"
    )
    return _decode_list(fetched)


def stream_documents(
    spark: SparkSession,
    fetcher: Fetcher,
    start_date: str,
    end_date: str,
    policy: RetryPolicy | None = None,
) -> DataFrame:
    """S2 as a streaming read: one day per micro-batch — the
    reference's daily polling loop as an incremental source.

    The offset is an index into the date range, so the same (start,
    end) offsets always re-fetch the same dates: the deterministic
    re-read exactly-once needs.  The DataSource class is defined here
    so that it captures ``fetcher`` and ``policy`` itself and is
    shipped with them to the Python worker.  A date that fails all
    retries yields no rows."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    policy = policy or RetryPolicy()
    dates = _iso_dates(start_date, end_date)

    class _Reader(SimpleDataSourceStreamReader):
        def __init__(self):
            self.limiter = _PartitionLimiter(policy.requests_per_second)

        def initialOffset(self):
            return {"date_idx": 0}

        def read(self, start: dict):
            i = start["date_idx"]
            if i >= len(dates):
                return iter([]), start  # caught up — no new data
            end = {"date_idx": i + 1}
            # Spark pickles a batch's rows, so they must be materialized
            return iter(list(self.readBetweenOffsets(start, end))), end

        def readBetweenOffsets(self, start: dict, end: dict):
            for d in dates[start["date_idx"] : end["date_idx"]]:
                raw = _fetch_raw(fetcher, d, policy, self.limiter)
                if raw is not None:
                    yield (d, raw)

    class _EdinetListStream(DataSource):
        @classmethod
        def name(cls):
            return "edinet_list_stream"

        def schema(self):
            return "date_str string, raw_json string"

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(_EdinetListStream)
    return _decode_list(spark.readStream.format("edinet_list_stream").load())


def filter_documents(
    docs: DataFrame, companies: DataFrame, doc_types: list[str]
) -> DataFrame:
    """P6/J2: keep docs whose edinetCode is a target company (left-semi
    against the broadcast master — the reference's hash-set membership,
    ``src/extract.py:149-162``) and whose docTypeCode is targeted.  A
    semi join emits each left row at most once, so the master needs no
    ``distinct``."""
    codes = companies.select(F.col("EDINET Code").alias("edinetCode"))
    return docs.join(F.broadcast(codes), "edinetCode", "left_semi").filter(
        F.col("docTypeCode").isin(doc_types)
    )


def dispatch_file_type(docs: DataFrame) -> DataFrame:
    """P13: csvFlag=='1' → API type '5'/ext csv; else xbrlFlag=='1' →
    type '1'/ext xbrl; else drop (``src/extract.py:176-184``)."""
    file_type = (
        F.when(F.col("csvFlag") == "1", F.lit("csv"))
        .when(F.col("xbrlFlag") == "1", F.lit("xbrl"))
        .otherwise(F.lit(None))
    )
    api_type = F.when(F.col("file_type") == "csv", "5").otherwise("1")
    return (
        docs.withColumn("file_type", file_type)
        .filter(F.col("file_type").isNotNull())
        .withColumn("api_type", api_type)
    )


def arrow_batch_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.execution.arrow.maxBytesPerBatch`` in
    bytes.  Spark prints the conf as a byte string (``67108864b`` on
    Spark 4.1); a bare number, ``k``/``m``/``g``/``t``/``p`` and an
    optional trailing ``b`` all parse, binary multiples as in Spark."""
    raw = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", raw.lower())
    if m is None:
        raise ValueError(f"maxBytesPerBatch is not a byte size: {raw!r}")
    return int(m.group(1)) * 1024 ** "_kmgtp".index(m.group(2) or "_")


def bounded_frames(
    pdf: pd.DataFrame, column: str, values: Iterable[bytes | None], budget: int
) -> Iterator[pd.DataFrame]:
    """``pdf`` with ``values`` as its binary ``column``, without the
    rows whose value is None, yielded in frames whose ``column`` bytes
    stay within ``budget``; a single larger value gets a frame of its
    own.  ``values`` is consumed lazily, one row at a time.

    PySpark turns each frame an island yields into one Arrow batch,
    and one Arrow ``binary`` array holds at most 2 GiB, so an island
    that yields one frame per input batch fails once the bytes of
    that batch's rows pass 2 GiB.  Flushing by bytes also bounds the
    bytes the Python worker holds at once."""
    rows: list[int] = []
    blobs: list[bytes] = []
    size = 0
    for i, blob in enumerate(values):
        if blob is None:
            continue
        if rows and size + len(blob) > budget:
            yield pdf.iloc[rows].assign(**{column: blobs})
            rows, blobs, size = [], [], 0
        rows.append(i)
        blobs.append(blob)
        size += len(blob)
    if rows:
        yield pdf.iloc[rows].assign(**{column: blobs})


def dispatch_head(docs: DataFrame, companies_to_get: int | None) -> DataFrame:
    """P13 flag dispatch (``dispatch_file_type``), then L1: the first
    ``companies_to_get`` dispatched docs in arrival order
    (``src/extract.py:204-205``); None keeps them all."""
    docs = dispatch_file_type(docs)
    if companies_to_get is not None:
        docs = docs.orderBy(*ARRIVAL).limit(companies_to_get)
    return docs


def fetch_zip(
    fetcher: Fetcher,
    doc_id: str,
    api_type: str,
    policy: RetryPolicy,
    limiter: _PartitionLimiter,
) -> bytes | None:
    """One doc's ZIP through the retry loop, or None once retries run
    out (``src/extract.py:211-231``)."""
    return _with_retries(lambda: fetcher.fetch_document(doc_id, api_type), policy, limiter)


def download_documents(
    docs: DataFrame,
    fetcher: Fetcher,
    companies_to_get: int | None = None,
    policy: RetryPolicy | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S3: head-N in arrival order (``dispatch_head``) then per-doc ZIP
    fetch.  Output: the doc's key columns and ``file_type``, plus
    ``content`` binary.  Failed downloads emit nothing (reference
    swallows after retries)."""
    policy = policy or RetryPolicy(jitter_base=0.5)
    per_partition_rate = policy.requests_per_second / max(num_partitions, 1)

    docs = dispatch_head(docs, companies_to_get)
    meta = [*ARRIVAL, "edinetCode", "docTypeCode", "file_type"]

    budget = arrow_batch_bytes(docs.sparkSession)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = _PartitionLimiter(per_partition_rate)
        for pdf in batches:
            content = (
                fetch_zip(fetcher, doc_id, api_type, policy, limiter)
                for doc_id, api_type in zip(pdf["docID"], pdf["api_type"])
            )
            yield from bounded_frames(pdf[meta], "content", content, budget)

    schema = [*docs.select(*meta).schema, T.StructField("content", T.BinaryType())]
    return (
        docs.select(*meta, "api_type")
        .repartition(num_partitions)
        .mapInPandas(fetch, schema=T.StructType(schema))
    )
