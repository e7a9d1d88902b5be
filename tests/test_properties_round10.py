"""Invariant tests for the round-10 operators: a stdlib union-find
model replay of the alternating large-star/small-star components
(fixture + hypothesis random graphs), its O(log n) round-count
guarantee, and a stdlib model of the `prefix` two-level scan the five
lint-caught queries now ride.  Same philosophy as tests/test_km_model
and test_properties_round9: model==Spark separates repo-wrong from
engine-pair divergence in one glance.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from edinet_etl_spark import registry
from edinet_etl_spark.operators.graph import (
    _STAR_SUPPORT,
    copurchase_support_pairs,
    largestar_smallstar_over,
)

pytestmark = pytest.mark.deep  # inner loop: -m "not deep" (see pytest.ini)

registry.load_all()

MODEL_SF = "/root/testdata/sf0.001"


def _support_pairs_model(sf_dir: str) -> set[tuple[int, int]]:
    """Support-filtered co-purchase pairs (u < v) with stdlib ints."""
    tb = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    )
    per_order: dict[int, set[int]] = defaultdict(set)
    for ok, pk in zip(
        tb.column("l_orderkey").to_pylist(), tb.column("l_partkey").to_pylist()
    ):
        per_order[ok].add(pk)
    support: dict[tuple[int, int], int] = defaultdict(int)
    for parts in per_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                support[(u, v)] += 1
    return {p for p, s in support.items() if s >= _STAR_SUPPORT}


def _model_components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find; component label = MIN member node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_star_components_match_union_find_model(spark):
    pairs = _support_pairs_model(MODEL_SF)
    model = _model_components(pairs)
    sizes: dict[int, int] = defaultdict(int)
    for c in model.values():
        sizes[c] += 1
    rows = registry.QUERIES["largestar_smallstar_components"](
        spark, MODEL_SF
    ).collect()
    got = {r["part_id"]: (r["component"], r["component_size"]) for r in rows}
    assert got == {n: (c, sizes[c]) for n, c in model.items()}


def test_star_round_count_is_logarithmic(spark):
    """Kiveris et al.'s convergence guarantee, measured: rounds to a
    stable edge set stays far under the graph's node count (5 measured
    at sf0.001 AND sf0.01 — the bound here is loose on purpose; the
    lint is that rounds don't grow with data)."""
    _labels, rounds = largestar_smallstar_over(
        copurchase_support_pairs(spark, MODEL_SF, _STAR_SUPPORT)
    )
    assert 1 <= rounds <= 10


def test_star_rounds_on_id_ordered_path_are_logarithmic(spark):
    """The guarantee that keeps the star kernel next to
    `neardup_components`' min-label loop: on the 64-node path
    0-1-...-63 (ids in path order) one path-halving jump per min-label
    round shrinks the contracted path by only 2 edges (31 rounds),
    while the star alternation stays within 2*ceil(log2 n) rounds."""
    n = 64
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u bigint, v bigint")
    labels, rounds = largestar_smallstar_over(pairs)
    assert rounds <= 2 * math.ceil(math.log2(n))
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == dict.fromkeys(range(n), 0)


_rand_edges = st.sets(
    st.tuples(st.integers(0, 13), st.integers(0, 13)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=1,
    max_size=30,
)


@given(_rand_edges)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_core_matches_model_on_random_graphs(spark, raw):
    """`largestar_smallstar_over` == union-find on hypothesis-random
    graphs — catches star-rewiring mistakes (dropped roots, self-loop
    edge cases, orientation bugs) the single co-purchase fixture
    can't."""
    pairs = {(min(u, v), max(u, v)) for u, v in raw}
    df = spark.createDataFrame(sorted(pairs), "u long, v long")
    labels, rounds = largestar_smallstar_over(df)
    got = {(r["node"], r["component"]) for r in labels.collect()}
    assert got == set(_model_components(pairs).items())
    assert rounds <= 10


def test_range_prefix_sum_matches_serial_model(spark):
    """The two-level scan == a stdlib running sum on a frame big
    enough to span many range partitions, run TWICE (the round-10 bug
    class this helper fixed was nondeterministic bucket assignment —
    identical reruns returned different sums before the checkpoint)."""
    from pyspark.sql import functions as F

    from edinet_etl_spark.prefix import range_prefix_sums

    rows = [(i * 7919 % 4001, i % 13 + 1) for i in range(4001)]  # keys unique
    expect = {}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        expect[k] = acc
    df = spark.createDataFrame(rows, "k long, v long")
    for _ in range(2):
        got = {
            r["k"]: r["cum"]
            for r in range_prefix_sums(
                df, ["k"], {"cum": F.col("v")}
            ).collect()
        }
        assert got == expect
