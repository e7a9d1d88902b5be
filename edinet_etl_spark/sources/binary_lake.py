"""Pre-fetched filing lake: the `binaryFile`-source ingestion path
(SURVEY.md §2.1 S3's second mapping — "pre-fetched dir +
spark.read.format('binaryFile')").

The HTTP path (`edinet_api`'s fetcher) is right when Spark
itself polls the API; this path is right when an upstream collector
already landed the ZIPs on shared storage (the usual shape at scale:
ingestion and compute decoupled, the lake is the interface).  The
`binaryFile` source gives (path, modificationTime, length, content)
rows with the same scan machinery as any other file source —
partition-parallel reads, pathGlobFilter pushdown, and no bytes read
for pruned files when only metadata columns are selected.

The scan emits the HTTP path's key columns (date_str, docID,
edinetCode, docTypeCode) and file_type, each a column expression over
the path, so arrival order is the same ``(date_str, docID)`` sort key
with no global rank.  Downstream differs in where A1 ranks:
the HTTP path ranks docs before it fetches them
(``transform.best_filing_facts``), while here the bytes are already
landed, so the unzip-and-pick island (``zip_extract.extract_filings``)
runs on every file and A1's window (``transform.select_best_filings``)
ranks the filings by the same ``a1_order``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Lake layout convention:
#   {docID}_{edinetCode}_{docTypeCode}_{fileType}.zip   (full form)
#   {docID}_{edinetCode}_{fileType}.zip                 (legacy form)
# with the list date as the parent directory (dt=YYYY-MM-DD/).
# docTypeCode is the EDINET form code ('120' annual, '130' amendment —
# the key the A1 amendment-priority dedup selects on); fileType is the
# API payload type ('5' CSV, '1' XBRL).  They are DIFFERENT codes: an
# earlier revision stored only fileType and surfaced it AS docTypeCode,
# which silently disabled the '130'-beats-'120' rule for lake-ingested
# filings (a '130' never appeared).  Legacy 3-part names now yield a
# NULL docTypeCode — honest absence instead of a wrong value.  The
# name parse mirrors the reference's (/root/reference/src/transform.py:120).
_NAME_RE = r"([^/_]+)_([^/_]+)_(?:(\d+)_)?(\d)\.zip$"
_DT_RE = r"dt=(\d{4}-\d{2}-\d{2})"


def read_filing_lake(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Scan a directory tree of filing ZIPs into the same
    (date_str, docID, edinetCode, docTypeCode, file_type, content)
    shape `download_documents` produces, so
    `zip_extract.extract_filings` composes unchanged.

    ``date_str`` is the ``dt=`` directory, so lake arrival order is
    ``(dt, docID)`` — the HTTP path's rule.  file_type comes from the
    fileType component the same way the flag dispatch does (P13): type
    5 payloads carry CSV members, type 1 XBRL.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(lake_dir)
    )
    return files.select(
        F.regexp_extract("path", _DT_RE, 1).alias("date_str"),
        F.regexp_extract("path", _NAME_RE, 1).alias("docID"),
        F.regexp_extract("path", _NAME_RE, 2).alias("edinetCode"),
        # optional group: legacy 3-part names extract "" → NULL
        F.nullif(F.regexp_extract("path", _NAME_RE, 3), F.lit("")).alias(
            "docTypeCode"
        ),
        F.when(F.regexp_extract("path", _NAME_RE, 4) == "5", "csv")
        .otherwise("xbrl")
        .alias("file_type"),
        "content",
    )
