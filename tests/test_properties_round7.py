"""Invariant tests for the round-7 operators (beyond the oracle
differential): winnowing's coverage guarantee on an engineered
fixture, and the structural invariants of the histogram/lift/
covariance/RRF/drawdown outputs at the default gate scale.
"""

from __future__ import annotations

import pandas as pd
import pytest

from edinet_etl_spark.operators.text import _WINNOW_K, _WINNOW_W
from tests.conftest import SF_DIR, query_rows


# ---------------------------------------------------------------- winnowing

_SHARED_RUN = "quick brown fox jumps over the lazy dog"  # k+w-1 = 8 words


@pytest.fixture(scope="module")
def winnow_sf_dir(tmp_path_factory):
    """Two docs sharing an 8-word run in different contexts, plus two
    docs over disjoint vocabularies (no shared shingle possible)."""
    texts = {
        1: f"alpha beta gamma {_SHARED_RUN} delta epsilon",
        2: f"one two three four five {_SHARED_RUN}",
        3: "red orange yellow green blue indigo violet maroon cyan teal",
        4: "pizza pasta risotto gnocchi lasagna ravioli polenta focaccia",
    }
    d = tmp_path_factory.mktemp("winnow_sf")
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["test"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_winnowing_coverage_guarantee(spark, winnow_sf_dir):
    """Schleimer et al. theorem: a shared run of >= k + w - 1 words
    MUST produce a shared selected fingerprint in both documents;
    disjoint-vocabulary docs must share none."""
    assert len(_SHARED_RUN.split()) == _WINNOW_K + _WINNOW_W - 1
    rows = {r["doc_id"]: r.asDict() for r in query_rows(spark, "winnowing_fingerprints", winnow_sf_dir)}
    assert rows[1]["n_shared_fp"] >= 1
    assert rows[2]["n_shared_fp"] >= 1
    assert rows[3]["n_shared_fp"] == 0
    assert rows[4]["n_shared_fp"] == 0


def test_winnowing_density_bounds(spark):
    """Every window selects one fingerprint and a fingerprint covers
    at most w windows: n_windows/w <= n_selected <= n_windows."""
    for r in query_rows(spark, "winnowing_fingerprints"):
        if r["n_kgrams"] == 0:
            assert r["n_selected"] == 0 and r["winnow_density"] is None
            continue
        n_windows = max(r["n_kgrams"] - (_WINNOW_W - 1), 1)
        assert r["n_selected"] <= n_windows
        assert r["n_selected"] * _WINNOW_W >= n_windows
        assert r["n_shared_fp"] <= r["n_selected"]


# ----------------------------------------------------------- column stats

def test_column_stats_histogram_partitions_the_table(spark):
    from edinet_etl_spark.operators.analytics import _COLSTATS_B, _COLSTATS_COLS
    from edinet_etl_spark.tables import load

    n_table = load(spark, SF_DIR, "lineitem").count()
    rows = query_rows(spark, "column_stats_histogram")
    by_col: dict[str, list] = {}
    for r in rows:
        by_col.setdefault(r["col_name"], []).append(r)
    assert set(by_col) == set(_COLSTATS_COLS)
    for col, rs in by_col.items():
        assert sum(r["n_rows"] for r in rs) + rs[0]["n_nulls"] == n_table
        assert all(0 <= r["bucket_id"] < _COLSTATS_B for r in rs)
        assert all(r["lo"] <= r["hi"] for r in rs)
        ordered = sorted(rs, key=lambda r: r["bucket_id"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["hi"] < b["lo"]  # buckets tile the value axis
        assert rs[0]["ndv"] >= len(rs)
        assert rs[0]["mcv_count"] >= max(1, n_table // rs[0]["ndv"] // 2)


# --------------------------------------------------------------- lift table

def test_decile_lift_table_conserves_population(spark):
    from edinet_etl_spark.tables import load

    rows = query_rows(spark, "decile_lift_table")
    n_cust = load(spark, SF_DIR, "customer").count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    tot_conv = sum(r["n_converters"] for r in rows)
    overall = rows[0]["overall_rate"]
    assert overall == pytest.approx(tot_conv / n_cust, rel=1e-12)
    # lift must average to 1 when weighted by tier size
    wavg = sum(r["lift"] * r["n_customers"] for r in rows) / n_cust
    assert wavg == pytest.approx(1.0, rel=1e-9)


# ---------------------------------------------------------------- rrf / cov

def test_rrf_fusion_shape_and_score_bounds(spark):
    from edinet_etl_spark.operators.similarity import (
        _RRF_C,
        _RRF_DEPTH,
        _RRF_TOP,
    )

    rows = query_rows(spark, "rrf_fusion_topk")
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == _RRF_TOP
        for r in rs:
            assert r["rank_full"] is not None or r["rank_prefix"] is not None
            for rk in (r["rank_full"], r["rank_prefix"]):
                if rk is not None:
                    assert 1 <= rk <= _RRF_DEPTH
            assert 0.0 < r["rrf_score"] <= 2.0 / (_RRF_C + 1)


def test_embedding_covariance_matrix_is_psd_ish(spark):
    """Diagonal nonnegative (up to the 1e-8 decimal quantization),
    |corr| <= 1 + eps, and cov(i,i) consistent with corr = 1."""
    rows = query_rows(spark, "embedding_covariance_matrix")
    diag = {r["dim_i"]: r for r in rows if r["dim_i"] == r["dim_j"]}
    for r in rows:
        if r["dim_i"] == r["dim_j"]:
            assert r["cov"] >= -1e-6
            assert r["corr"] == pytest.approx(1.0, abs=1e-9)
        else:
            assert abs(r["corr"]) <= 1.0 + 1e-9
            # Cauchy-Schwarz on the exact sums
            assert r["cov"] ** 2 <= (
                diag[r["dim_i"]]["cov"] * diag[r["dim_j"]]["cov"]
            ) * (1 + 1e-9) + 1e-12


# ---------------------------------------------------------------- drawdown

def test_max_drawdown_invariants(spark):
    rows = query_rows(spark, "max_drawdown_per_user")
    assert rows
    for r in rows:
        assert r["max_drawdown"] >= 0.0
        assert r["peak_balance"] >= r["final_balance"] - 1e-9
        assert r["n_events"] >= 1


def test_mutual_nn_matching_is_one_to_one(spark):
    """Mutual-NN output is a partial matching: every a_id and b_id
    appears at most once, sides are disjoint parities, distances
    nonnegative."""
    rows = query_rows(spark, "mutual_nn_matching")
    assert rows
    a_ids = [r["a_id"] for r in rows]
    b_ids = [r["b_id"] for r in rows]
    assert len(a_ids) == len(set(a_ids))
    assert len(b_ids) == len(set(b_ids))
    for r in rows:
        assert r["a_id"] % 2 == 0 and r["b_id"] % 2 == 1
        assert r["dist2"] >= 0.0
