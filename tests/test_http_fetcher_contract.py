"""Recorded-response contract test for the live ``HttpFetcher``.

Reference behavior pinned (``/root/reference/src/extract.py``):
- list endpoint GET ``{base_url}/documents.json`` with params
  ``date=YYYY-MM-DD``, ``type=2``, ``Subscription-Key`` (``:81-87``);
- document endpoint GET ``{base_url}/documents/{docID}`` with params
  ``type`` (5=CSV / 1=XBRL per flag dispatch) + key (``:165-190``);
- HTTP errors raise (``raise_for_status``); the caller's retry loop
  (``:121-141``) retries 429 and 5xx, and swallows any other 4xx on
  its first attempt, since a client error does not change on retry.

Previously these were proven only through fake ``Fetcher`` subclasses;
this pins the real client's URL construction and error classification
against canned bytes — no network.
"""

from __future__ import annotations

import io
import urllib.error
import urllib.request

import pytest

from edinet_etl_spark.sources.edinet_api import (
    HttpFetcher,
    RetryPolicy,
    _PartitionLimiter,
    _with_retries,
)


class _Recorder:
    """Stand-in for urllib.request.urlopen: records URLs, serves canned
    bytes or a canned HTTPError, supports context-manager use."""

    def __init__(self, payload: bytes = b"{}", status: int | None = None):
        self.payload = payload
        self.status = status
        self.urls: list[str] = []
        self.timeouts: list[float] = []

    def __call__(self, url, timeout=None):
        self.urls.append(url)
        self.timeouts.append(timeout)
        if self.status is not None:
            raise urllib.error.HTTPError(
                url, self.status, "err", hdrs=None, fp=io.BytesIO(b"")
            )

        class _Resp:
            def __enter__(inner):
                return inner

            def __exit__(inner, *a):
                return False

            def read(inner):
                return self.payload

        return _Resp()


@pytest.fixture
def recorder(monkeypatch):
    rec = _Recorder(payload=b'{"results": []}')
    monkeypatch.setattr(urllib.request, "urlopen", rec)
    return rec


def test_fetch_list_url_shape(recorder):
    f = HttpFetcher("https://api.example.test/v2/", api_key="SECRETKEY")
    out = f.fetch_list("2024-03-29")
    assert out == b'{"results": []}'
    assert recorder.urls == [
        "https://api.example.test/v2/documents.json"
        "?date=2024-03-29&type=2&Subscription-Key=SECRETKEY"
    ]
    # trailing slash on base_url must not double up
    assert "//documents" not in recorder.urls[0].split("://", 1)[1]
    assert recorder.timeouts == [30.0]


@pytest.mark.parametrize("file_type", ["5", "1"])
def test_fetch_document_url_shape(recorder, file_type):
    f = HttpFetcher("https://api.example.test/v2", api_key="K", timeout=7.5)
    out = f.fetch_document("S100TEST", file_type)
    assert out == b'{"results": []}'
    assert recorder.urls == [
        f"https://api.example.test/v2/documents/S100TEST"
        f"?type={file_type}&Subscription-Key=K"
    ]
    assert recorder.timeouts == [7.5]


def test_http_error_is_retried_then_swallowed(monkeypatch):
    """4xx/5xx → HTTPError (an OSError) → the retry wrapper's except path:
    max_retries+1 attempts, then None (missing rows, not job failure)
    — the reference's swallow-and-continue (src/extract.py:121-141)."""
    rec = _Recorder(status=503)
    monkeypatch.setattr(urllib.request, "urlopen", rec)
    monkeypatch.setattr("time.sleep", lambda s: None)
    f = HttpFetcher("https://api.example.test", api_key="K")
    policy = RetryPolicy(max_retries=3, retry_delay=0.0)
    out = _with_retries(
        lambda: f.fetch_list("2024-01-01"), policy, _PartitionLimiter(0)
    )
    assert out is None
    assert len(rec.urls) == policy.max_retries + 1


def test_client_error_is_not_retried(monkeypatch):
    """404 → HTTPError with a 4xx code other than 429: one request, no
    backoff, then None (missing rows, not job failure)."""
    rec = _Recorder(status=404)
    monkeypatch.setattr(urllib.request, "urlopen", rec)
    monkeypatch.setattr("time.sleep", lambda s: pytest.fail("client error backed off"))
    f = HttpFetcher("https://api.example.test", api_key="K")
    out = _with_retries(
        lambda: f.fetch_list("2024-01-01"),
        RetryPolicy(max_retries=3, retry_delay=0.0),
        _PartitionLimiter(0),
    )
    assert out is None
    assert len(rec.urls) == 1


def test_transient_error_recovers(monkeypatch):
    """First call fails, second succeeds — retry returns the payload."""
    calls = {"n": 0}

    def flaky(url, timeout=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise urllib.error.URLError("connection reset")
        return _Recorder(payload=b"ZIPBYTES")(url, timeout)

    monkeypatch.setattr(urllib.request, "urlopen", flaky)
    monkeypatch.setattr("time.sleep", lambda s: None)
    f = HttpFetcher("https://api.example.test", api_key="K")
    out = _with_retries(
        lambda: f.fetch_document("S1", "5"),
        RetryPolicy(max_retries=2, retry_delay=0.0),
        _PartitionLimiter(0),
    )
    assert out == b"ZIPBYTES"
    assert calls["n"] == 2
