"""ZIP member extraction (S4/X2/A2 in SURVEY.md §2).

Reference behavior (``/root/reference/src/utils/helper.py:35-101``):
save the ZIP to a temp dir, extract all members, ``rglob`` for the
target extension, keep the *largest* match, rename it to
``{edinetCode}_{yyyyMMdd}_{docTypeCode}{ext}``, clean up.  Corrupt
ZIPs and no-match ZIPs are logged and skipped.

Spark-first shape: no filesystem at all.  Picking the member needs one
ZIP only, so it runs inside the ``mapInPandas`` island that holds the
ZIP's bytes: open the archive in memory, keep the largest matching
member and read only that one (1 ZIP row → 0 or 1 filing row, no
shuffle).  There is no rename: the reference names the file only to
read its metadata back later, and here the metadata columns ride along
on the row — whatever arrives passes through untouched.
"""

from __future__ import annotations

import io
import zipfile
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from edinet_etl_spark.sources.edinet_api import arrow_batch_bytes, bounded_frames


# What zipfile raises on corrupt outside bytes: BadZipFile (bad magic,
# CRC, truncation), zlib.error and EOFError (bad or short deflate
# data), RuntimeError (an encrypted member; NotImplementedError, an
# unsupported compression, is a subclass) and ValueError (a negative
# seek from a corrupt offset, an undecodable member name).  Anything
# else, a MemoryError or a bug, fails the job.
_ZIP_ERRORS = (zipfile.BadZipFile, zlib.error, EOFError, RuntimeError, ValueError)


def _best_member(content: bytes, ext: str) -> bytes | None:
    """A2: the bytes of the largest non-directory member ending in
    ``ext``; the member name breaks size ties (the reference's ``max()``
    inherits Path ordering on ties — we pin it, SURVEY §2.11d).  A
    corrupt archive, no matching member or a corrupt chosen member
    gives None — the reference's log-and-skip error path
    (``src/utils/helper.py:64-67``).  Other members are never read."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
    except _ZIP_ERRORS:  # corrupt zip → skip doc
        return None
    # endswith first: a corrupt directory can hold an empty member
    # name, on which ZipInfo.is_dir raises IndexError
    matches = [i for i in zf.infolist() if i.filename.endswith(ext) and not i.is_dir()]
    if not matches:
        return None
    best = max(matches, key=lambda i: (i.file_size, i.filename))
    try:
        return zf.read(best)
    except _ZIP_ERRORS:  # corrupt member → skip doc
        return None


def filing_member(content: bytes, file_type: str) -> bytes | None:
    """``_best_member`` for a doc dispatched as ``file_type``: a 'csv'
    doc's target is a ``.csv`` member, any other an ``.xbrl`` one."""
    return _best_member(content, ".csv" if file_type == "csv" else ".xbrl")


def extract_filings(downloads: DataFrame) -> DataFrame:
    """Full S4 stage: one island picks each ZIP's target member.  The
    output is the input minus ``content``, plus ``member_bytes``."""

    budget = arrow_batch_bytes(downloads.sparkSession)

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            member = map(filing_member, pdf["content"], pdf["file_type"])
            rest = pdf.drop(columns="content")
            yield from bounded_frames(rest, "member_bytes", member, budget)

    meta = [f for f in downloads.schema if f.name != "content"]
    schema = T.StructType([*meta, T.StructField("member_bytes", T.BinaryType())])
    return downloads.mapInPandas(pick, schema=schema)
