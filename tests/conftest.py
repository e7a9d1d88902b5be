"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
connection with the test tables pre-registered, and the strict
order-insensitive comparator mirroring the driver's check."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from decimal import Decimal

import duckdb
import pytest

from edinet_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("edinet-etl-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def canon_value(v) -> str:
    """Canonical string for one cell, strict enough that a pass here
    implies a pass under any sane hash comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # bit-exact: we engineered queries so floats match bitwise
        return v.hex()
    if isinstance(v, Decimal):
        # DISTINCT from the float encoding on purpose: a Decimal here
        # means the column's engine type is DECIMAL — if the other
        # engine returned DOUBLE for the same column, that is a schema
        # divergence the driver's strict compare flags (caught live:
        # a bare numeric literal in a CASE parses as DECIMAL in DuckDB
        # but the Spark side was DOUBLE — lsh_recall_curve).  Matching
        # requires BOTH engines to agree on decimal-ness; trailing
        # zeros are normalized away so scale differences don't matter.
        return "dec:" + format(v.normalize(), "f")
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def query_rows(spark, name: str, sf_dir: str | None = None) -> list:
    """Collect one registered query at ``sf_dir`` (default: the test
    scale)."""
    from edinet_etl_spark import registry

    registry.load_all()
    return registry.QUERIES[name](spark, sf_dir or SF_DIR).collect()


def frame_digest(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    """Order-insensitive digest: sort columns by name, canonicalize every
    cell, sort row strings, sha256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, len(rows)


def spark_result(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def assert_matches_oracle(spark_df, con, sql: str, name: str = "?") -> int:
    s_cols, s_rows = spark_result(spark_df)
    d_cols, d_rows = duckdb_result(con, sql)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sh, _ = frame_digest(s_cols, s_rows)
    dh, _ = frame_digest(d_cols, d_rows)
    if sh != dh:
        s_set = set("\x1f".join(canon_value(r[i]) for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i])) for r in s_rows)
        d_set = set("\x1f".join(canon_value(r[i]) for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i])) for r in d_rows)
        only_s = list(s_set - d_set)[:3]
        only_d = list(d_set - s_set)[:3]
        raise AssertionError(
            f"{name}: value hash mismatch\n  cols={sorted(s_cols)}\n"
            f"  spark-only rows (3): {only_s}\n  duckdb-only rows (3): {only_d}"
        )
    return len(s_rows)
