"""Guard the bench stdout contract (round-3 postmortem).

The driver captures only the last 2000 chars of stdout; round 3's bench
line grew past it and the round recorded no performance figure
(BENCH_r03.json parsed: null).  This test builds the exact payload
bench.py would print with worst-case-width timings and asserts it fits
with margin, so adding a headline query that would blow the window
fails CI instead of the round.

It also pins bench.py as the repo's one measurement loop: what
``bench.time_query`` returns and leaves behind, and that no tool keeps
its own noop-sink timing loop or session builder.
"""

from __future__ import annotations

import ast
from pathlib import Path

import bench
from edinet_etl_spark import registry
from edinet_etl_spark.planhash import plan_hash

REPO = Path(bench.__file__).parent


def test_bench_line_fits_driver_tail_window():
    # worst realistic widths: every per-query timing three digits before
    # the point ("999.999"), total five ("99999.999")
    timings = {name: 999.999 for name in bench.HEADLINE}
    payload = bench.line_bytes(timings, 99999.999, 0.1)
    assert len(payload) <= bench.MAX_LINE_BYTES, (
        f"{len(payload)}B worst-case bench line exceeds the "
        f"{bench.MAX_LINE_BYTES}B budget (driver tail window is 2000)"
    )


def test_bench_headline_names_registered():
    registry.load_all()
    missing = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not missing, f"bench HEADLINE references unknown queries: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_registry_has_no_rows_only_queries():
    """Round-6 guarantee: every registered query carries a full-value
    DuckDB oracle (the driver's strongest signal). A new rows-only
    registration silently weakens the correctness gate — fail here
    instead."""
    registry.load_all()
    rows_only = set(registry.QUERIES) - set(registry.ORACLES)
    assert not rows_only, f"rows-only queries reintroduced: {sorted(rows_only)}"


def test_registry_priority_rotation_is_well_formed():
    """The driver checks a 50-query prefix of registration order; the
    rotation list must stay duplicate-free, fully registered (enforced
    at lookup too, but fail HERE with a readable message), and large
    enough to pin the whole window explicitly."""
    registry.load_all()
    prio = registry._PRIORITY
    dupes = {n for n in prio if prio.count(n) > 1}
    assert not dupes, f"duplicate names in _PRIORITY: {dupes}"
    missing = [n for n in prio if n not in registry.QUERIES]
    assert not missing, f"_PRIORITY references unknown queries: {missing}"
    assert len(prio) >= 50, "driver window (50) no longer fully pinned"


def test_time_query_contract(spark):
    """The one measurement loop: bench's adaptive 2-4 reps, the plan hash
    of the query it timed, Spark statistics read from the rep's job
    group, and no job group left set on the caller's thread."""
    registry.load_all()
    sf = "/root/testdata/sf0.001"
    runs, digest, stats = bench.time_query(spark, "pricing_summary", sf)
    assert 2 <= len(runs) <= 4 and all(r > 0 for r in runs)
    assert digest == plan_hash(registry.QUERIES["pricing_summary"](spark, sf))
    assert stats.sql_execs >= 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def _measurement_sites(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "noop"
        ):
            yield "noop", node.lineno
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ):
            yield "builder", node.lineno


def test_one_measurement_loop():
    """Only bench.py runs queries into the noop sink (warms and times
    them); only the driver-contract check builds its own SparkSession,
    since its hostile session is the point.  Every other tool goes
    through ``bench`` and ``session.get_spark``."""
    allowed = {"noop": "bench.py", "builder": "tools/verify_driver_contract.py"}
    offenders = [
        f"{rel}:{line} {kind}"
        for path in [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
        for rel in [str(path.relative_to(REPO))]
        for kind, line in _measurement_sites(path)
        if rel != allowed[kind]
    ]
    assert offenders == []
