"""Streaming list ingestion: ``edinet_api.stream_documents`` reads the
EDINET feed one day per micro-batch through an injected fetcher and
must produce exactly the rows the batch path (``list_documents``)
produces from the same fixtures."""

from __future__ import annotations

import pytest

from edinet_etl_spark.sources import edinet_api
from edinet_etl_spark.sources.edinet_api import RetryPolicy
from tests.fixtures.gen import FixtureFetcher, build_all


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("edinet_ds_fixtures")
    build_all(root)
    return str(root)


EXPECTED_IDS = ["D001", "D002", "D003", "D004", "D005", "D006", "D007", "D009"]


def test_streaming_datasource_one_day_per_batch(spark, fixture_root):
    sdf = edinet_api.stream_documents(
        spark,
        FixtureFetcher(fixture_root),
        "2024-06-01",
        "2024-06-04",
        RetryPolicy(retry_delay=0.001),
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("edinet_stream_docs")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.table("edinet_stream_docs").collect()
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert sorted(r["docID"] for r in out) == EXPECTED_IDS
    # one micro-batch per day: 2024-06-04's empty list is one raw row
    # that decodes to no documents
    assert batches == [1, 1, 1, 1]
    dates = sorted({r["date_str"] for r in out})
    assert dates == ["2024-06-01", "2024-06-02", "2024-06-03"]
