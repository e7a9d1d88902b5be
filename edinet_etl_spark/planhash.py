"""Stable physical-plan hashing for bench attribution.

BENCH_r{N} timings drift for two very different reasons: the plan
changed (a real regression/improvement to attribute to a commit) or the
environment drifted (JIT, page cache, CPU contention — noise).  A
stable hash of the *normalized* plan string separates them: equal
hashes across rounds ⇒ any timing delta is environment; unequal ⇒ the
plan itself changed and the diff is attributable.

Normalization strips everything run-specific — expression ids (#123),
plan ids, codegen stage ids, checkpoint/RDD ids, statistics, file
paths/sizes, partition counts chosen from input size — leaving operator
structure, join strategies, keys, and pushed filters.  The same query
code on the same Spark version hashes identically across processes,
days, and scale factors that share a plan shape.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable

from pyspark.sql import DataFrame

# One column of a distinct-aggregate group key, after id scrubbing:
# o_custkey#NL, a float key's NaN/-0.0 normalization, either one as a
# sort key.
_GID_KEY = (
    r"(?:knownfloatingpointnormalized\(normalizenanandzero\(\w+#NL?\)\) AS )?"
    r"\w+#NL?(?: ASC NULLS FIRST)?"
)


def _sorted_keys(m: re.Match[str]) -> str:
    return ", ".join(sorted(m.group(1)[:-2].split(", "))) + ", "


def _sorted_expand_rows(m: re.Match[str]) -> str:
    rows = []
    for row in re.findall(r"\[([^\[\]]*)\]", m.group(1)):
        items = (re.sub(r"^[1-9]\d*$", "G", x) for x in row.split(", ") if x != "null")
        rows.append(f"[{', '.join(items)}]")
    return f"Expand [{', '.join(sorted(rows))}], ["


_SCRUB: list[tuple[re.Pattern[str], str | Callable[[re.Match[str]], str]]] = [
    # higher-order-function lambda variables carry a SESSION-GLOBAL
    # counter (lambda x_1 in a fresh session, lambda x_28 after other
    # queries ran) — normalize the counter, keep the variable letter
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    # expression ids: l_orderkey#123L → l_orderkey#N
    (re.compile(r"#\d+"), "#N"),
    # codegen stage ids: *(4) → *(N)
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    # plan / subquery / exchange-reuse ids
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"\[id=#?N?\d*\]"), ""),
    (re.compile(r"(Subquery|ReusedExchange|ReusedSubquery)\s+subquery#?N?\d*"), r"\1 subquery"),
    # checkpoint / parallelize RDD scans carry per-run ids
    (re.compile(r"Scan ExistingRDD\[[^\]]*\]"), "Scan ExistingRDD[...]"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
    (re.compile(r"ParallelCollectionRDD\[\d+\]"), "ParallelCollectionRDD[N]"),
    # per-session catalog database: analytics' bucketed join audit
    # names it after its session.scratch_dir(..., "bucketed_audit")
    (re.compile(r"\b(edinet_bucketed_audit)_[0-9a-f]{12}\b"), r"\1_H"),
    # file listing: paths, counts, sizes
    (re.compile(r"/[\w./-]*testdata/sf[\d.]+"), "SF"),
    (re.compile(r"/tmp/[\w./-]+"), "TMP"),
    (re.compile(r"InMemoryFileIndex\([^)]*\)"), "InMemoryFileIndex(...)"),
    (re.compile(r"\d+ paths"), "N paths"),
    # statistics / size hints the optimizer prints
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(...)"),
    (re.compile(r"sizeInBytes=[\d.]+\s*\w*"), "sizeInBytes=N"),
    # shuffle/coalesce partition counts chosen from input size or conf
    (re.compile(r"rep_ncol=\d+"), "rep_ncol=N"),
    # hashpartitioning(col#N, 32) → hashpartitioning(col#N, P)
    (re.compile(r"(partitioning\([^)]*?),\s*\d+\)"), r"\1, P)"),
    (re.compile(r"REPARTITION_BY_NUM\(\d+\)"), "REPARTITION_BY_NUM(P)"),
    (re.compile(r"Coalesce \d+"), "Coalesce P"),
    # key-less round-robin repartitions size to the core count
    # (parallel_scan's repartition(cores)); the driver benches the same
    # tree at BOTH 32 and 8 cores, and r10's attribution showed exactly
    # these tokens flipping 10 of 56 headliner hashes between the two
    # runs (VERDICT r10 item 2) — scrub the count like hashpartitioning
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning(P)"),
    # Range(...) leaf splits default to defaultParallelism (same class)
    (re.compile(r"(Range \([^)]*?splits=)\d+\)"), r"\1P)"),
    # distinct aggregates over different columns (COUNT DISTINCT per
    # column) are rewritten to an Expand with one gid per distinct
    # group, and Catalyst orders the groups by expression hash codes,
    # which carry the session's expression ids: the same query prints
    # its group columns, gid numbers and Expand rows in another order
    # after other queries ran (table_profile_orders).  Sort the group
    # columns in front of gid, number every group G, and drop the nulls
    # of each Expand row before sorting the rows
    (re.compile(rf"(?<=[\[(])((?:{_GID_KEY}, )+)(?=gid#N\b)"), _sorted_keys),
    (re.compile(r"\bgid#N = [1-9]\d*"), "gid#N = G"),
    (
        re.compile(r"Expand \[(\[[^\[\]]*\](?:, \[[^\[\]]*\])*)\], \[(?=[^\]]*\bgid#N\b)"),
        _sorted_expand_rows,
    ),
    # AQE wrapper flag flips once executed; hash the static shape only
    (re.compile(r"isFinalPlan=(true|false)"), "isFinalPlan=_"),
    # trailing whitespace differences
    (re.compile(r"[ \t]+$", re.MULTILINE), ""),
]


def normalize_plan(plan: str) -> str:
    for pat, rep in _SCRUB:
        plan = pat.sub(rep, plan)
    return plan


def plan_hash(df: DataFrame) -> str:
    """12-hex-char stable hash of df's physical plan (pre-execution
    static shape; with AQE on this is the initial plan, which is the
    deterministic artifact of the query code + session conf).

    FileScan metadata (DataFilters/PushedFilters/ReadSchema) is printed
    TRUNCATED at spark.sql.maxMetadataStringLength (default 100) — and
    the cut lands mid-token at an offset that depends on the width of
    the raw expression ids, which vary per session.  Truncation happens
    before normalization can fix it, so the hash flips between
    otherwise-identical runs (caught round 4: bilateral_trade_volume).
    Raising the limit for the duration of the toString makes the plan
    string complete, hence stable after id scrubbing."""
    spark = df.sparkSession
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    return hashlib.md5(normalize_plan(plan).encode()).hexdigest()[:12]
