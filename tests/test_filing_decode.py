"""Pure-Python tests of the filing islands' per-row code: the byte
bound on the frames an island yields, and which errors from decoding
outside bytes skip a filing and which fail the job."""

from __future__ import annotations

import random
import xml.etree.ElementTree as ET
import zipfile
from types import SimpleNamespace

import pandas as pd
import pytest

from edinet_etl_spark.pipeline import transform
from edinet_etl_spark.sources import zip_extract
from edinet_etl_spark.sources.edinet_api import arrow_batch_bytes, bounded_frames
from tests.fixtures.gen import XBRL_VALID, _filing_csv_bytes, _zip_bytes

_CSV = _filing_csv_bytes(
    [
        ["jpdei_cor:EDINETCodeDEI", "FilingDateInstant", "E00001", None],
        ["jpcrp_cor:Revenue", "CurrentYearDuration", "1000", "JPY"],
        ["jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant", "2024-03-31", None],
    ]
)


@pytest.mark.parametrize("seed", range(20))
def test_bounded_frames_stay_within_budget_and_concat_to_unchunked(seed):
    rng = random.Random(seed)
    n = rng.randint(0, 40)
    pdf = pd.DataFrame({"docID": [f"D{i}" for i in range(n)], "k": range(n)})
    values = [
        None if rng.random() < 0.2 else rng.randbytes(rng.randint(0, 300))
        for _ in range(n)
    ]
    budget = rng.randint(1, 600)

    frames = list(bounded_frames(pdf, "content", iter(values), budget))

    for f in frames:
        assert len(f) >= 1
        assert len(f) == 1 or sum(map(len, f["content"])) <= budget
    unchunked = pdf.assign(content=values)
    unchunked = unchunked[unchunked["content"].notna()]
    got = pd.concat(frames) if frames else unchunked.iloc[:0]
    pd.testing.assert_frame_equal(got, unchunked)


@pytest.mark.parametrize(
    "raw, expected",
    [("67108864b", 64 << 20), ("64m", 64 << 20), ("64MB", 64 << 20), ("1k", 1024), ("512", 512)],
)
def test_arrow_batch_bytes_parses_spark_byte_strings(raw, expected):
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key: raw))
    assert arrow_batch_bytes(spark) == expected


def test_arrow_batch_bytes_rejects_a_non_size():
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key: "lots"))
    with pytest.raises(ValueError):
        arrow_batch_bytes(spark)


def _corrupt_member_zip() -> bytes:
    data = bytearray(_zip_bytes({"a.csv": _CSV}))
    i = data.index(_CSV[:8])  # stored, so the member bytes are verbatim
    data[i + 4] ^= 0xFF  # the CRC check fails on read
    return bytes(data)


def _empty_name_zip() -> bytes:
    data = bytearray(_zip_bytes({"x.csv": _CSV}))
    # rename the member to "" in the central directory only
    cd = data.rindex(b"PK\x01\x02")
    data[cd + 28 : cd + 30] = b"\x00\x00"
    del data[cd + 46 : cd + 51]
    eocd = data.rindex(b"PK\x05\x06")
    size = int.from_bytes(data[eocd + 12 : eocd + 16], "little") - 5
    data[eocd + 12 : eocd + 16] = size.to_bytes(4, "little")
    return bytes(data)


@pytest.mark.parametrize(
    "content",
    [
        b"",
        b"not a zip",
        _zip_bytes({"a.csv": _CSV})[:40],
        _corrupt_member_zip(),
        _empty_name_zip(),
    ],
    ids=["empty", "garbage", "truncated", "corrupt_member", "empty_member_name"],
)
def test_corrupt_zip_skips_the_doc(content):
    assert zip_extract._best_member(content, ".csv") is None


def test_good_zip_yields_its_member():
    assert zip_extract._best_member(_zip_bytes({"a.csv": _CSV}), ".csv") == _CSV


@pytest.mark.parametrize("error", [MemoryError, TypeError])
def test_zip_open_error_outside_decoding_fails(monkeypatch, error):
    def boom(*args, **kwargs):
        raise error("not a decode error")

    content = _zip_bytes({"a.csv": _CSV})
    monkeypatch.setattr(zipfile, "ZipFile", boom)
    with pytest.raises(error):
        zip_extract._best_member(content, ".csv")


@pytest.mark.parametrize("error", [MemoryError, TypeError])
def test_zip_read_error_outside_decoding_fails(monkeypatch, error):
    def boom(*args, **kwargs):
        raise error("not a decode error")

    content = _zip_bytes({"a.csv": _CSV})
    monkeypatch.setattr(zipfile.ZipFile, "read", boom)
    with pytest.raises(error):
        zip_extract._best_member(content, ".csv")


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"\xff\xfe\x00",
        "要素ID\t値\n".encode("utf-8"),
        "a\tb\n1\t2\n3\t4\t5\n".encode("utf-16"),
    ],
    ids=["empty", "odd_utf16", "no_bom", "ragged"],
)
def test_unparseable_csv_skips_the_filing(data):
    assert transform._csv_facts(data) == (None, [])


@pytest.mark.parametrize(
    "data",
    [b"", b"<xbrl><unclosed></xbrl>", b'<?xml version="1.0" encoding="bogus"?><a/>'],
    ids=["empty", "malformed", "unknown_encoding"],
)
def test_malformed_xml_skips_the_filing(data):
    assert transform._xbrl_facts(data) == (None, [])


def test_parsers_read_good_filings():
    assert transform._csv_facts(_CSV) == (2024, [("CurrentYearDuration", "1000", "JPY")])
    assert transform._xbrl_facts(XBRL_VALID)[0] == 2024


@pytest.mark.parametrize("error", [MemoryError, TypeError])
def test_csv_error_outside_decoding_fails(monkeypatch, error):
    def boom(*args, **kwargs):
        raise error("not a decode error")

    monkeypatch.setattr(pd, "read_csv", boom)
    with pytest.raises(error):
        transform._csv_facts(_CSV)


@pytest.mark.parametrize("error", [MemoryError, TypeError])
def test_xml_error_outside_decoding_fails(monkeypatch, error):
    def boom(*args, **kwargs):
        raise error("not a decode error")

    monkeypatch.setattr(ET, "fromstring", boom)
    with pytest.raises(error):
        transform._xbrl_facts(XBRL_VALID)
