"""Mergeable-sketch / probabilistic-structure / graph surface:
count-min heavy hitters, bloom-filter pre-join pruning, a KMV
distinct-count estimator, a fixed-iteration PageRank, degree-ordered
triangle counting, and market-basket lift mining — the
approximate+iterative layer a training-data pipeline runs beside
exact dedup (M6 north-star extensions; the reference, a 757-LoC
pandas ETL, has no sketch layer).

Everything is HASH-DETERMINISTIC: md5-hex → bigint (the repo's
portable hash, same family as `llmdata.train_test_split_counts`), so
each sketch is bit-identical in any engine and the DuckDB oracles
compare exactly.  The approximation error lives in the DATA STRUCTURE
(CMS overestimates, bloom false-positives — both *reported* by the
queries below), never in run-to-run nondeterminism.

Scale design:
- The CMS is a (d × w) counter matrix built by a plain groupBy — Spark
  partial-aggregates map-side, so each executor ships at most d·w
  counters regardless of input rows: the textbook mergeable sketch.
- The bloom bitmap is ≤ `_BLOOM_BITS/32` packed words built from the
  *selective dim side* and broadcast to the fact scan — the manual
  form of Spark's runtime bloom-filter join pruning, with the
  reduction ratio surfaced as output.
- PageRank is edge-partitioned joins + exact-decimal contribution
  sums (`numeric.dsum`), the plan that survives a billion-edge graph;
  iteration count is fixed so the oracle unrolls to pure SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.numeric import dsum
from edinet_etl_spark.operators.graph import (
    copurchase_edges,
    copurchase_join,
    copurchase_pairs,
    copurchase_support_pairs,
    pagerank_over,
)
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.tables import load, parallel_scan

# Count-min sketch geometry: d independent hash rows × w buckets.
_CMS_D = 4
_CMS_W = 256

# Bloom filter geometry: m bits packed into 32-bit-per-word BIGINTs
# (bit 63 is avoided — DuckDB raises on `1::BIGINT << 63` overflow),
# k independent hash functions.
_BLOOM_BITS = 8192
_BLOOM_K = 3

# PageRank: damping 0.85, fixed iteration count (so the DuckDB oracle
# is the same computation unrolled into CTEs).
_PR_ITERS = 3
_PR_DAMP = 0.85


def _hash32(col: Column, seed: str) -> Column:
    """Portable deterministic 32-bit hash: first 8 md5-hex digits of
    ``seed:value`` as a bigint — identical in Spark (`conv`) and DuckDB
    (`'0x'||hex :: BIGINT`)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), col)), 1, 8), 16, 10
    ).cast("bigint")


def _sql_hash32(expr: str, seed: str) -> str:
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 8))::BIGINT"


def _repartitioned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the unsplittable-fixture row-level reshuffle
    (same rationale as `dedup._shingles`: one row group would pin the
    word explode + hashing to a single task)."""
    docs = load(spark, sf_dir, "documents")
    return docs.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )


def _words(docs: DataFrame) -> DataFrame:
    return docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))


def _cms_sketch(words: DataFrame) -> DataFrame:
    """(row_id, bucket, cnt) counter matrix — ≤ _CMS_D·_CMS_W groups,
    so the groupBy's map-side partial aggregation collapses each task
    to a constant-size payload before the (tiny) shuffle."""
    buckets = F.array(
        *[(_hash32(F.col("word"), f"s{i}") % _CMS_W) for i in range(_CMS_D)]
    )
    return (
        words.select(F.posexplode(buckets).alias("row_id", "bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_cms_ctes() -> str:
    """Shared oracle CTEs: words → per-row hashed buckets → cms."""
    rows = "\n      UNION ALL\n".join(
        f"      SELECT {i} AS row_id,"
        f" {_sql_hash32('word', f's{i}')} % {_CMS_W} AS bucket FROM words"
        for i in range(_CMS_D)
    )
    return f"""words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), hashed AS (
{rows}
    ), cms AS (
      SELECT row_id, bucket, COUNT(*) AS cnt FROM hashed GROUP BY row_id, bucket
    )"""


@query(
    "cms_sketch_counts",
    oracle=f"""
    WITH {_sql_cms_ctes()}
    SELECT row_id, bucket, cnt FROM cms
    """,
    covers=["M6-sketch"],
)
def cms_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus word stream: d×w counter
    matrix.  The output IS the mergeable sketch — union two corpora's
    matrices and `SUM(cnt)` per cell to get the combined sketch, which
    is how 100 TB shards combine without ever exchanging raw words."""
    return _cms_sketch(_words(_repartitioned_docs(spark, sf_dir)))


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH {_sql_cms_ctes()},
    truth AS (
      SELECT word, COUNT(*) AS true_cnt FROM words GROUP BY word
    ), probes AS (
"""
    + "\n      UNION ALL\n".join(
        f"      SELECT word, true_cnt, {i} AS row_id,"
        f" {_sql_hash32('word', f's{i}')} % {_CMS_W} AS bucket FROM truth"
        for i in range(_CMS_D)
    )
    + f"""
    ), est AS (
      SELECT p.word, p.true_cnt, MIN(c.cnt) AS est_cnt
      FROM probes p JOIN cms c ON p.row_id = c.row_id AND p.bucket = c.bucket
      GROUP BY p.word, p.true_cnt
    )
    SELECT word, true_cnt, est_cnt FROM est
    ORDER BY true_cnt DESC, word LIMIT 20
    """,
    covers=["M6-sketch"],
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words with BOTH the exact count and the count-min
    estimate (est ≥ truth by construction; the gap is the sketch's
    collision overestimate).  At scale the `truth` branch disappears
    and candidate words probe the tiny broadcast sketch directly —
    here both sides are kept so the query itself measures sketch
    quality."""
    words = _words(_repartitioned_docs(spark, sf_dir))
    sketch = _cms_sketch(words)
    truth = words.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))
    buckets = F.array(
        *[(_hash32(F.col("word"), f"s{i}") % _CMS_W) for i in range(_CMS_D)]
    )
    probes = truth.select(
        "word", "true_cnt", F.posexplode(buckets).alias("row_id", "bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["row_id", "bucket"])
        .groupBy("word", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.orderBy(F.desc("true_cnt"), "word").limit(20)


def _bloom_positions_sql(expr: str, prefix: str) -> list[str]:
    return [
        f"{_sql_hash32(expr, f'{prefix}{i}')} % {_BLOOM_BITS}" for i in range(_BLOOM_K)
    ]


def _bloom_positions(col: Column, prefix: str) -> Column:
    return F.array(
        *[(_hash32(col, f"{prefix}{i}") % _BLOOM_BITS) for i in range(_BLOOM_K)]
    )


_MASK = "shiftleft(cast(1 as bigint), cast(p & 31 as int))"


def _bloom_bitmap(keys: DataFrame, key_col: str) -> DataFrame:
    """(word_idx, bits): the packed bloom bitmap of a key set.
    ≤ _BLOOM_BITS/32 rows regardless of key count — broadcastable to
    every fact-scan task at any scale."""
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col).cast("string"), "b")).alias("p")
    )
    return (
        pos.select(
            F.shiftright(F.col("p"), 5).alias("word_idx"),
            F.expr(_MASK).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


_SQL_BLOOM_CTES = f"""keys AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), pos AS (
{chr(10).join('      SELECT ' + p + ' AS p FROM keys' + ('' if i == _BLOOM_K - 1 else chr(10) + '      UNION ALL') for i, p in enumerate(_bloom_positions_sql('CAST(c_custkey AS STRING)', 'b')))}
    ), bloom AS (
      SELECT p >> 5 AS word_idx,
             bit_or(1::BIGINT << CAST(p & 31 AS INTEGER)) AS bits
      FROM pos GROUP BY p >> 5
    )"""


@query(
    "bloom_filter_bitmap",
    oracle=f"""
    WITH {_SQL_BLOOM_CTES}
    SELECT word_idx, bits FROM bloom
    """,
    covers=["M6-sketch"],
)
def bloom_filter_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed bloom bitmap ({_BLOOM_BITS} bits, k={_BLOOM_K}) of the
    BUILDING-segment customer keys.  Like the CMS, the bitmap is
    mergeable (`bit_or` per word across shards) and deterministic, so
    building it distributed and comparing it to a single-node build is
    exact."""
    cust = load(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return _bloom_bitmap(keys, "c_custkey")


@query(
    "bloom_prejoin_reduction",
    oracle=f"""
    WITH {_SQL_BLOOM_CTES},
    probes AS (
{chr(10).join('      SELECT o_orderkey, o_custkey, ' + p + ' AS p FROM orders' + ('' if i == _BLOOM_K - 1 else chr(10) + '      UNION ALL') for i, p in enumerate(_bloom_positions_sql('CAST(o_custkey AS STRING)', 'b')))}
    ), flags AS (
      SELECT o_orderkey, o_custkey,
             SUM(CASE WHEN b.bits IS NOT NULL
                       AND (b.bits & (1::BIGINT << CAST(p & 31 AS INTEGER))) <> 0
                      THEN 1 ELSE 0 END) AS hits
      FROM probes LEFT JOIN bloom b ON (p >> 5) = b.word_idx
      GROUP BY o_orderkey, o_custkey
    )
    SELECT COUNT(*) AS total_orders,
           CAST(SUM(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_candidates,
           CAST(SUM(CASE WHEN k.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS true_matches,
           CAST(SUM(CASE WHEN hits = {_BLOOM_K} AND k.c_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
    FROM flags LEFT JOIN keys k ON flags.o_custkey = k.c_custkey
    """,
    covers=["M6-sketch", "J2"],
)
def bloom_prejoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-join pruning, measured: build the bitmap from the
    selective dim side, broadcast it to the orders scan, and report
    total rows / bloom-pass candidates / true semi-join matches /
    false positives in one row.

    This is the manual form of Spark's runtime bloom-filter join
    pruning (`spark.sql.optimizer.runtime.bloomFilter.enabled`): at
    100 TB the fact table never shuffles rows whose key can't be in
    the dim — only `bloom_candidates` rows reach the join exchange,
    and the query itself quantifies that reduction (plus the false-
    positive cost, which the exact join then discards)."""
    cust = load(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = _bloom_bitmap(keys, "c_custkey")
    orders = load(spark, sf_dir, "orders")
    probes = orders.select(
        "o_orderkey",
        "o_custkey",
        F.explode(_bloom_positions(F.col("o_custkey").cast("string"), "b")).alias("p"),
    )
    hit = (
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.expr(_MASK)) != 0)
    ).cast("int")
    flags = (
        probes.join(
            F.broadcast(bloom),
            F.shiftright(F.col("p"), 5) == F.col("word_idx"),
            "left",
        )
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(hit).alias("hits"))
    )
    truth_keys = keys.withColumnRenamed("c_custkey", "k_custkey")
    is_cand = (F.col("hits") == _BLOOM_K).cast("int")
    is_true = F.col("k_custkey").isNotNull().cast("int")
    return (
        flags.join(
            F.broadcast(truth_keys),
            F.col("o_custkey") == F.col("k_custkey"),
            "left",
        ).agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.sum(is_cand).alias("bloom_candidates"),
            F.sum(is_true).alias("true_matches"),
            F.sum((is_cand.cast("boolean") & (F.col("k_custkey").isNull())).cast("int"))
            .alias("false_positives"),
        )
    )


def _sql_pagerank() -> str:
    """Unrolled PageRank oracle: _PR_ITERS CTE hops, each the exact-
    decimal contribution sum the Spark loop performs."""
    base = [
        """pairs AS (
      SELECT DISTINCT 'u:' || CAST(user_id AS STRING) AS u,
                      't:' || event_type AS t
      FROM events
    ), edges AS (
      SELECT u AS src, t AS dst FROM pairs
      UNION ALL
      SELECT t AS src, u AS dst FROM pairs
    ), deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), nn AS (
      SELECT COUNT(*) AS n FROM deg
    ), r0 AS (
      SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
    )"""
    ]
    contrib_sum = (
        "CAST(CAST(SUM(CAST(r.rank / d.d AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)"
    )
    for i in range(1, _PR_ITERS + 1):
        base.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn)
               + {_PR_DAMP} * {contrib_sum}
               AS rank
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
    return ",\n    ".join(base)


@query(
    "pagerank_event_graph",
    oracle=f"""
    WITH {_sql_pagerank()}
    SELECT r.node, d.d AS degree, r.rank
    FROM r{_PR_ITERS} r JOIN deg d ON r.node = d.src
    """,
    covers=["M6-graph"],
)
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_PR_ITERS} fixed iterations, damping {_PR_DAMP}) on
    the bipartite user ↔ event-type interaction graph.

    Plan: the edge table joins the current rank vector on `src`
    (co-partitioned with the `deg` join — one clustering serves both)
    and the contribution sum per `dst` goes through `numeric.dsum`, so
    ranks are bit-identical under ANY partitioning / AQE re-plan — the
    property that lets the unrolled DuckDB oracle compare exactly.
    Every node here has out-degree ≥ 1 by construction (each edge is
    mirrored), so there is no dangling-mass term.

    Scale: this is the standard edge-partitioned iteration — state per
    round is one (node, rank) table, shuffled once per hop on the join
    key; at a billion edges the same plan holds with the rank table
    hash-partitioned and the graph bucketed on src.  The driver-side
    `.count()` is loop-control only (the documented iterative idiom,
    cf. `dedup.neardup_components`)."""
    events = load(spark, sf_dir, "events")
    pairs = events.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("t"),
    ).distinct()
    edges = pairs.select(F.col("u").alias("src"), F.col("t").alias("dst")).unionAll(
        pairs.select(F.col("t").alias("src"), F.col("u").alias("dst"))
    )
    return pagerank_over(edges, _PR_ITERS, _PR_DAMP).select(
        "node", F.col("d").alias("degree"), "rank"
    )


@query(
    "triangle_count_copurchase",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
      ) GROUP BY node
    ), oriented AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                  THEN p.u ELSE p.v END AS src,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                  THEN p.v ELSE p.u END AS dst
      FROM pairs p
      JOIN deg du ON du.node = p.u
      JOIN deg dv ON dv.node = p.v
    ), adj AS (
      SELECT src AS node, list_sort(list(dst)) AS nbrs
      FROM oriented GROUP BY src
    ), tri AS (
      SELECT SUM(len(list_intersect(au.nbrs, COALESCE(av.nbrs, [])))) AS t
      FROM oriented e
      JOIN adj au ON au.node = e.src
      LEFT JOIN adj av ON av.node = e.dst
    ), wed AS (
      SELECT SUM(len(nbrs) * (len(nbrs) - 1) // 2) AS w FROM adj
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(w AS BIGINT) FROM wed) AS n_wedges,
           (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
           CASE WHEN (SELECT w FROM wed) > 0
                THEN (SELECT t FROM tri) / CAST((SELECT w FROM wed) AS DOUBLE)
           END AS closure_rate
    """,
    covers=["M6-graph", "A-extended", "J-extended"],
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph (parts are
    adjacent when some order contains both) via DEGREE-ORDERED edge
    iteration: orient every edge from its lower-degree endpoint (ties
    by id), build each node's sorted out-neighbor array, and count
    per-edge triangles as |N⁺(src) ∩ N⁺(dst)| — each triangle has
    exactly one apex edge pair in the orientation DAG, so the sum is
    exact with no /3 correction.

    Scale shape: the naive wedge materialization shuffles O(Σdeg²)
    rows (measured 47 M at sf0.1 — the bottleneck); this edge-iterator
    form shuffles only O(m) — the adjacency build (one groupBy) and
    two edge⋈adjacency hash joins — and does the intersection
    ARRAY-LOCALLY inside codegen.  Degree orientation bounds every
    out-list at O(√m) even on power-law hubs, so no adjacency array
    blows up a task.  Wedge count comes free from the out-degrees
    (Σ C(d⁺,2)); closure_rate = triangles / wedges is one exact
    integer division."""
    return triangle_card(copurchase_pairs(spark, sf_dir))


def triangle_card(pairs: DataFrame) -> DataFrame:
    """Degree-ordered edge-iterator triangle summary over ANY distinct
    undirected edge set (columns u < v) — the reusable core of
    `triangle_count_copurchase`, also pinned against a brute-force
    model in tests/test_properties.py."""
    # pairs feeds degrees, orientation and the edge iteration —
    # materialize the distinct edge set once
    pairs = materialize(pairs)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )  # read by adj build + edge iteration
    adj = oriented.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    au = adj.select(F.col("node").alias("src"), F.col("nbrs").alias("src_nbrs"))
    av = adj.select(F.col("node").alias("dst"), F.col("nbrs").alias("dst_nbrs"))
    per_edge = (
        oriented.join(au, "src")
        .join(av, "dst", "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("src_nbrs"),
                    F.coalesce(F.col("dst_nbrs"), F.array().cast("array<bigint>")),
                )
            ).alias("t")
        )
    )
    tri = per_edge.agg(F.sum("t").cast("bigint").alias("n_triangles"))
    # C(d,2) in INTEGER arithmetic (bigint product, DIV 2, bigint SUM)
    # — the double-division form would round past 2^53 and become
    # partition-shape dependent; the oracle's // is mirrored exactly
    wed = adj.select(F.size("nbrs").cast("bigint").alias("sz")).agg(
        F.sum(F.expr("(sz * (sz - 1)) DIV 2")).cast("bigint").alias("n_wedges")
    )
    counts = (
        deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
        .crossJoin(F.broadcast(pairs.agg(F.count("*").cast("bigint").alias("n_edges"))))
        .crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
    )
    return counts.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.col("n_triangles") / F.col("n_wedges").cast("double"),
        ).alias("closure_rate"),
    )


_LIFT_MIN_SUPPORT = 8  # pair must co-occur in ≥ this many orders


@query(
    "copurchase_lift_pairs",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), pair_n AS (
      SELECT u, v, COUNT(*) AS n_ab FROM pairs GROUP BY u, v
    ), item_n AS (
      SELECT l_partkey AS item, COUNT(DISTINCT l_orderkey) AS n_i
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT COUNT(DISTINCT o_orderkey) AS n_orders FROM orders
    )
    SELECT p.u AS part_a, p.v AS part_b,
           CAST(p.n_ab AS BIGINT) AS n_together,
           CAST(ia.n_i AS BIGINT) AS n_a,
           CAST(ib.n_i AS BIGINT) AS n_b,
           CAST(p.n_ab * t.n_orders AS BIGINT)
             / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
    FROM pair_n p
    JOIN item_n ia ON ia.item = p.u
    JOIN item_n ib ON ib.item = p.v
    CROSS JOIN tot t
    WHERE p.n_ab >= {_LIFT_MIN_SUPPORT}
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
    covers=["A-extended", "J-extended", "L1/L2"],
)
def copurchase_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top-20 part pairs by LIFT
    (P(a,b) / P(a)P(b)) with a minimum co-occurrence support — the
    classic recommender/affinity signal.  Lift instead of PMI keeps
    the score an exact integer ratio (`n_ab·N / (n_a·n_b)`, ONE
    correctly-rounded double division) — no libm, same ordering.

    Plan: the per-order pair fan-out is the same bounded explode as
    the triangle counter (distinct collapses multiplicity); item and
    pair supports are two partial-aggregated group-bys; the final join
    attaches two |parts|-row sides (AQE broadcasts them) and the
    min-support filter prunes BEFORE the join fan-in.  Top-20 is a
    TakeOrdered over the surviving pairs."""
    li = parallel_scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pair_n = (
        copurchase_join(spark, sf_dir)
        .select(
            F.col("a.l_orderkey").alias("ok"),
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _LIFT_MIN_SUPPORT)
    )
    item_n = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.countDistinct("l_orderkey").alias("n_i")
    )
    tot = (
        parallel_scan(spark, sf_dir, "orders")
        .agg(F.countDistinct("o_orderkey").alias("n_orders"))
    )
    ia = item_n.select(F.col("item").alias("u"), F.col("n_i").alias("na"))
    ib = item_n.select(F.col("item").alias("v"), F.col("n_i").alias("nb"))
    return (
        pair_n.join(ia, "u")
        .join(ib, "v")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("n_ab").cast("bigint").alias("n_together"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("bigint")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


_KMV_K = 64  # k-th minimum value; rel. error ~ 1/sqrt(k-2) ≈ 13 %


@query(
    "kmv_distinct_estimate",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT l_returnflag,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM hashed
    ), kth AS (
      -- groups with < k distinct hashes fall back to their exact set:
      -- keep the LAST kept row (rn = min(k, |hashes|)) and its rank
      SELECT l_returnflag, h AS hk, rn AS n_kept FROM (
        SELECT *, MAX(rn) OVER (PARTITION BY l_returnflag) AS max_rn
        FROM ranked WHERE rn <= {_KMV_K}
      ) WHERE rn = max_rn
    ), exact AS (
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT e.l_returnflag, e.exact_distinct,
           CASE WHEN k.n_kept < {_KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                ELSE ({_KMV_K} - 1) * CAST(4503599627370496 AS DOUBLE) / k.hk
           END AS kmv_estimate,
           ABS(CASE WHEN k.n_kept < {_KMV_K} THEN CAST(k.n_kept AS DOUBLE)
                    ELSE ({_KMV_K} - 1) * CAST(4503599627370496 AS DOUBLE) / k.hk
               END - e.exact_distinct) / e.exact_distinct AS rel_error
    FROM exact e JOIN kth k USING (l_returnflag)
    """,
    covers=["A-extended", "M6-sketch"],
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch, per return flag: hash
    every key to a uniform 52-bit value (13 md5 hex digits — exact in
    a double, 16¹³ = 2⁵²), keep the k smallest DISTINCT hashes, and
    estimate D ≈ (k−1)·2⁵²/h₍ₖ₎.  Reported next to the exact count
    with its realized relative error — the sketch's honesty check.

    Unlike `approx_distinct_parts` (HLL, engine-internal → rows-only
    check), KMV is hash-DETERMINISTIC: both engines replay the
    identical sketch, so even the *approximate* answer compares
    bit-exact.  Scale: the sketch is mergeable (union the k-minima,
    re-take k smallest), the shuffle payload is ≤ k hashes per group
    per task, and the estimate is one exactly-rounded division.
    Where the window rank here is per-group fine-grained, a production
    build map-side combines via sorted top-k arrays."""
    li = parallel_scan(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return kmv_estimate(li, "l_returnflag", "l_partkey")


def kmv_estimate(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """KMV core over ANY (group, key) frame — the reusable sketch both
    the lineitem query and the hypothesis model test drive (the < k
    fallback branch only fires on small groups, which the fixtures
    never contain)."""
    hashed = df.select(
        group_col,
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
        )
        .cast("bigint")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    w_all = Window.partitionBy(group_col)
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .withColumn("max_rn", F.max("rn").over(w_all))
        # last kept row: rn = min(k, |hashes|) — when a group has
        # fewer than k distinct hashes the kept set IS the exact
        # distinct set, so the estimate falls back to its size
        .filter(F.col("rn") == F.col("max_rn"))
        .select(
            group_col,
            F.col("h").alias("hk"),
            F.col("rn").alias("n_kept"),
        )
    )
    exact = df.groupBy(group_col).agg(
        F.countDistinct(key_col).cast("bigint").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise(
        (F.lit(_KMV_K - 1) * F.lit(4503599627370496.0)) / F.col("hk")
    )
    return (
        exact.join(kth, group_col)
        .select(
            group_col,
            "exact_distinct",
            est.alias("kmv_estimate"),
            (
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct")
            ).alias("rel_error"),
        )
    )


# Fixed-width histogram quantile sketch: bin width in price units.
_QBIN_W = 100.0


@query(
    "binned_quantile_sketch",
    oracle=f"""
    WITH hist AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice / {_QBIN_W}) AS BIGINT) AS bin,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, bin
    ), cum AS (
      SELECT l_returnflag, bin, n,
             SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n) OVER (PARTITION BY l_returnflag) AS total
      FROM hist
    )
    SELECT l_returnflag,
           CAST(ANY_VALUE(total) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST((MIN(CASE WHEN cum >= CEIL(total * 0.5) THEN bin END) + 1)
                AS DOUBLE) * {_QBIN_W} AS p50_est,
           CAST((MIN(CASE WHEN cum >= CEIL(total * 0.9) THEN bin END) + 1)
                AS DOUBLE) * {_QBIN_W} AS p90_est,
           CAST((MIN(CASE WHEN cum >= CEIL(total * 0.99) THEN bin END) + 1)
                AS DOUBLE) * {_QBIN_W} AS p99_est
    FROM cum GROUP BY l_returnflag
    """,
    covers=["A-extended", "M6-sketch"],
)
def binned_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles (p50/p90/p99 of
    l_extendedprice per return flag), each estimate the upper edge of
    the first bin whose cumulative count reaches ⌈q·n⌉ — error bounded
    by the bin width (100 price units), deterministic in any
    engine (floor of one correctly-rounded division; no interpolation,
    no libm).

    This is the scale path next to the exact `percentile_stats` sort:
    the histogram is a CONSTANT-SIZE mergeable sketch — per-partition
    (key, bin) partial counts combine map-side, the shuffle carries at
    most |bins| counters per key per task (vs the exact form's full
    column sort), per-day histograms roll up to per-month by adding
    counters, and the final per-key window runs over a few hundred
    bins.  Same structure as a t-digest/KLL deployment, with
    deterministic bin boundaries instead of adaptive centroids so the
    oracle replays bit-exact.

    r10: plain `load`, NOT `parallel_scan` — the first downstream op
    is the (flag, bin) partial aggregate, one floor-divide + counter
    per row, which collapses the scan to ~|bins| rows IN the scan
    task; the round-robin spread shuffled every (flag, price) row to
    buy parallelism for work cheaper than the shuffle write itself
    (measured 1.43 → 0.50 s at sf0.1, §2.3 aggregate before you
    shuffle).  Contrast pricing_summary, where 8 exact-decimal
    aggregates per row ARE compute-bound and the spread wins 1.9×."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    hist = li.groupBy(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") / _QBIN_W).cast("bigint").alias("bin"),
    ).agg(F.count("*").alias("n"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_all)
    )

    def pick(q: float, alias: str) -> Column:
        thr = F.ceil(F.col("total") * F.lit(q))
        bin_q = F.min(F.when(F.col("cum") >= thr, F.col("bin")))
        return ((bin_q + 1) * F.lit(_QBIN_W)).alias(alias)

    return cum.groupBy("l_returnflag").agg(
        F.max("total").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_bins"),
        pick(0.5, "p50_est"),
        pick(0.9, "p90_est"),
        pick(0.99, "p99_est"),
    )


@query(
    "kmv_sketch_merge",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT l_returnflag, l_linestatus,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM lineitem
    ), partial AS (
      SELECT l_returnflag, l_linestatus, h FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY l_returnflag, l_linestatus ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {_KMV_K}
    ), merged AS (
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM (SELECT DISTINCT l_returnflag, h FROM partial)
    ), merged_kth AS (
      SELECT l_returnflag, h AS merged_hk, rn AS n_kept FROM (
        SELECT *, MAX(rn) OVER (PARTITION BY l_returnflag) AS max_rn
        FROM merged WHERE rn <= {_KMV_K}
      ) WHERE rn = max_rn
    ), direct AS (
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM (SELECT DISTINCT l_returnflag, h FROM hashed)
    ), direct_kth AS (
      SELECT l_returnflag, h AS direct_hk FROM (
        SELECT *, MAX(rn) OVER (PARTITION BY l_returnflag) AS max_rn
        FROM direct WHERE rn <= {_KMV_K}
      ) WHERE rn = max_rn
    ), stats AS (
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_substreams,
             CAST(COUNT(*) AS BIGINT) AS n_sketch_rows
      FROM partial GROUP BY l_returnflag
    )
    SELECT s.l_returnflag, s.n_substreams, s.n_sketch_rows,
           CASE WHEN m.n_kept < {_KMV_K} THEN CAST(m.n_kept AS DOUBLE)
                ELSE ({_KMV_K} - 1) * CAST(4503599627370496 AS DOUBLE) / m.merged_hk
           END AS merged_estimate,
           (m.merged_hk = d.direct_hk) AS merge_lossless
    FROM stats s
    JOIN merged_kth m USING (l_returnflag)
    JOIN direct_kth d USING (l_returnflag)
    """,
    covers=["A-extended", "M6-sketch"],
)
def kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE, proven lossless: build one k-minima sketch per
    (returnflag, linestatus) substream, merge substream sketches per
    flag (union the minima, dedup, re-take the k smallest), and verify
    the merged k-th minimum equals the k-th minimum of a direct
    whole-group sketch.  Equality is guaranteed by construction — any
    global k-smallest hash is a fortiori among its own substream's k
    smallest — and `merge_lossless` surfaces the proof as data.

    This is THE property that makes KMV deployable at 100 TB: per-day /
    per-partition sketches are ≤ k longs each, roll up to any coarser
    grouping by union+re-rank WITHOUT rescanning history, and the
    rolled-up estimate is bit-identical to the from-scratch one.  The
    shuffle after sketching carries ≤ k·substreams rows per group —
    constant, not data-sized."""
    li = parallel_scan(spark, sf_dir, "lineitem")
    hashed = li.select(
        "l_returnflag",
        "l_linestatus",
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    w_sub = Window.partitionBy("l_returnflag", "l_linestatus").orderBy("h")
    partial = (
        hashed.withColumn("rn", F.row_number().over(w_sub))
        .filter(F.col("rn") <= _KMV_K)
        .select("l_returnflag", "l_linestatus", "h")
    )
    w_flag = Window.partitionBy("l_returnflag").orderBy("h")
    w_flag_all = Window.partitionBy("l_returnflag")

    def kth(df: DataFrame, hk_alias: str, keep_n: bool) -> DataFrame:
        ranked = (
            df.select("l_returnflag", "h")
            .distinct()
            .withColumn("rn", F.row_number().over(w_flag))
            .filter(F.col("rn") <= _KMV_K)
            .withColumn("max_rn", F.max("rn").over(w_flag_all))
            .filter(F.col("rn") == F.col("max_rn"))
        )
        cols = ["l_returnflag", F.col("h").alias(hk_alias)] + (
            [F.col("rn").alias("n_kept")] if keep_n else []
        )
        return ranked.select(*cols)

    merged_kth = kth(partial, "merged_hk", keep_n=True)
    direct_kth = kth(hashed, "direct_hk", keep_n=False)
    stats = partial.groupBy("l_returnflag").agg(
        F.countDistinct("l_linestatus").cast("bigint").alias("n_substreams"),
        F.count("*").cast("bigint").alias("n_sketch_rows"),
    )
    est = F.when(F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")).otherwise(
        (F.lit(_KMV_K - 1) * F.lit(4503599627370496.0)) / F.col("merged_hk")
    )
    return (
        stats.join(merged_kth, "l_returnflag")
        .join(direct_kth, "l_returnflag")
        .select(
            "l_returnflag",
            "n_substreams",
            "n_sketch_rows",
            est.alias("merged_estimate"),
            (F.col("merged_hk") == F.col("direct_hk")).alias("merge_lossless"),
        )
    )


# k-core peel: degree threshold and FIXED round budget (6 rounds covers
# convergence at every fixture scale; the `stable` column reports it).
_KCORE_K = 80
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled-round k-core oracle (same construction as the PageRank
    fixed-iteration oracle): aliveN = nodes with ≥ k surviving
    neighbours among alive(N-1)."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM edges UNION ALL SELECT v AS a, u AS b FROM edges
    ), alive0 AS MATERIALIZED (
      SELECT DISTINCT a AS node FROM sym
    )"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", alive{r} AS MATERIALIZED (
      SELECT s.a AS node FROM sym s
      JOIN alive{r - 1} x ON s.a = x.node
      JOIN alive{r - 1} y ON s.b = y.node
      GROUP BY s.a HAVING COUNT(*) >= {_KCORE_K}
    )"""
        )
    selects = []
    for r in range(_KCORE_ROUNDS + 1):
        stable = (
            f"(SELECT COUNT(*) FROM alive{r}) = (SELECT COUNT(*) FROM alive{r - 1})"
            if r
            else "FALSE"
        )
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" CAST((SELECT COUNT(*) FROM alive{r}) AS BIGINT) AS n_alive,"
            f" {stable} AS stable"
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query(
    "kcore_copurchase_peel",
    oracle=_kcore_oracle(),
    covers=["A-extended", "J-extended", "M6-graph"],
)
def kcore_copurchase_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph by iterative
    peeling: each round removes nodes with fewer than k surviving
    neighbours; the fixpoint is the k-core — the standard dense-region
    extractor (community seeding, bot/spam subgraph mining) next to
    PageRank (influence) and triangles (clustering).  Output is the
    peel trajectory (round, surviving-node count, stable flag) — the
    number an operator actually monitors; at k=80 the fixtures peel
    through 4–5 real rounds to a non-empty core.

    Round count is FIXED (6, enough for convergence at every fixture
    scale — the final `stable` row proves it in-band) so the oracle
    unrolls to pure SQL, the same trick as `pagerank_event_graph`; a
    deployment loops to fixpoint with a loop-control count per round —
    the `neardup_components` idiom.  Scale: per round, the alive set
    only shrinks and is broadcast into two equi-joins against the
    (checkpointed, symmetric) edge list, then one partial-aggregated
    degree count; when the alive list outgrows broadcast, AQE degrades
    the join to the partitioned form — same semantics.  Monotonicity
    guarantees a peeled node never returns, so no per-round edge
    rewrite is needed."""
    from functools import reduce

    sym = copurchase_edges(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    alive = materialize(sym.select(F.col("a").alias("node")).distinct())

    def round_count(r: int, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("bigint").alias("n_alive")).select(
            F.lit(r).cast("bigint").alias("round"), "n_alive"
        )

    counts = [round_count(0, alive)]
    for r in range(1, _KCORE_ROUNDS + 1):
        x = alive.select(F.col("node").alias("xa"))
        y = alive.select(F.col("node").alias("yb"))
        alive = materialize(
            sym.join(x, F.col("a") == F.col("xa"))
            .join(y, F.col("b") == F.col("yb"))
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
        )
        counts.append(round_count(r, alive))
    res = reduce(DataFrame.unionByName, counts)
    # 7-row result: the un-partitioned lag window is bounded by the
    # fixed round budget, never by data size
    w = Window.orderBy("round")
    return res.withColumn(
        "stable",
        F.coalesce(F.col("n_alive") == F.lag("n_alive").over(w), F.lit(False)),
    )


@query(
    "kmv_jaccard_intersection",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT l_returnflag AS tag,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
    ), sk AS (
      SELECT tag, h FROM (
        SELECT tag, h,
               ROW_NUMBER() OVER (PARTITION BY tag ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {_KMV_K}
    ), kth AS (
      SELECT tag,
             CASE WHEN COUNT(*) < {_KMV_K}
                  THEN CAST(4503599627370496 AS BIGINT)
                  ELSE MAX(h) END AS theta_tag
      FROM sk GROUP BY tag
    ), theta AS (
      SELECT MIN(theta_tag) AS theta FROM kth
    ), s AS (
      SELECT DISTINCT h FROM sk, theta WHERE h <= theta
    ), flags AS (
      SELECT s.h,
             CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END AS in_both
      FROM s
      LEFT JOIN (SELECT h FROM sk WHERE tag = 'A') a ON a.h = s.h
      LEFT JOIN (SELECT h FROM sk WHERE tag = 'R') b ON b.h = s.h
    ), est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_theta,
             CAST(SUM(in_both) AS BIGINT) AS n_both,
             MIN(theta) AS theta
      FROM flags, theta GROUP BY theta
    ), exact AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'A' THEN l_partkey END)
                  AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END)
                  AS BIGINT) AS n_b,
             CAST(COUNT(DISTINCT CASE WHEN has_a = 1 AND has_b = 1 THEN l_partkey END)
                  AS BIGINT) AS n_inter
      FROM (
        SELECT l_partkey, l_returnflag,
               MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY l_partkey) AS has_a,
               MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY l_partkey) AS has_b
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
      )
    )
    SELECT e.n_a, e.n_b, e.n_inter,
           CAST(e.n_inter AS DOUBLE) / (e.n_a + e.n_b - e.n_inter) AS jaccard_exact,
           s.n_theta, s.n_both,
           CAST(s.n_both AS DOUBLE) / s.n_theta AS jaccard_est,
           (s.n_theta - 1) * CAST(4503599627370496 AS DOUBLE) / s.theta AS union_est,
           CAST(s.n_both AS DOUBLE) / s.n_theta
             * ((s.n_theta - 1) * CAST(4503599627370496 AS DOUBLE) / s.theta)
             AS inter_est
    FROM est s, exact e
    """,
    covers=["A-extended", "M6-sketch"],
)
def kmv_jaccard_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/θ-sketch SET ALGEBRA beyond union: estimate the Jaccard and
    intersection size of two key sets (parts in return-flag substreams A vs R) from
    their k-minima sketches alone — the sketch-level join-selectivity /
    audience-overlap primitive (Theta-sketch `intersect`), next to
    `kmv_sketch_merge`'s lossless union.

    Estimator: θ = min of the two sketches' k-th minima (2^52, the
    hash-space top, when a set is smaller than k); S = the sketches'
    minima below θ — a uniform hash sample of A∪B; Jaccard ≈ |{h ∈ S
    in BOTH sketches}| / |S|; |A∩B| ≈ Jaccard × union-estimate.  Every
    step is hash-deterministic, so even the estimates compare
    bit-exact across engines, and the exact distinct-set answer rides
    alongside (n_a/n_b/n_inter) as the closed-loop accuracy report.

    Scale: the exact path re-scans the fact table, the sketch path
    never does — two ≤k-row sketches (built with one map-side distinct
    + a k-row-per-group rank) answer overlap for ANY pair of
    substreams, and stay mergeable across days/partitions.  All joins
    after sketching touch ≤ 2k rows."""
    li = parallel_scan(spark, sf_dir, "lineitem")
    modes = li.filter(F.col("l_returnflag").isin("A", "R"))
    # Round-10 restructure (guide §2.3/§2.4): the sketch arm used to
    # re-scan the fact table and hash EVERY row (600 k md5+conv at
    # sf0.1) into its own distinct; the exact arm ran a second scan +
    # groupBy.  Both arms are functions of the distinct-key membership
    # table, so ONE groupBy(l_partkey) pass now feeds both — Catalyst
    # reuses the exchange across the two branches (ReusedExchange in
    # the plan), the fact table is scanned and shuffled once, and the
    # hash runs once per DISTINCT key instead of once per row.
    per_key = modes.groupBy("l_partkey").agg(
        F.max(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("has_a"),
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_b"),
    )
    h = (
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    tags = F.filter(
        F.array(
            F.when(F.col("has_a") == 1, F.lit("A")),
            F.when(F.col("has_b") == 1, F.lit("R")),
        ),
        lambda t: t.isNotNull(),
    )
    # the trailing distinct mirrors the oracle's DISTINCT over (tag, h):
    # a 13-hex-prefix collision between two keys must collapse to one
    # sketch row on both sides (map-side combine eats it pre-shuffle)
    hashed = per_key.select(h, F.explode(tags).alias("tag")).select(
        "tag", "h"
    ).distinct()
    # two-level k-th-minimum (round-10): ranking each tag's WHOLE
    # distinct-hash set in one task is a serial cliff at scale (2 tags
    # = 2 tasks); hashes are uniform, so the global k minima of a tag
    # are a subset of the per-sub-bucket k minima — rank within
    # (tag, h mod 64) sub-buckets in parallel first, then rank the
    # ≤ 64·k survivors per tag.  Exact, same result, and the serial
    # step is now bounded by 64·k rows, not the sketch input.
    w_sub = Window.partitionBy("tag", F.pmod("h", F.lit(64))).orderBy("h")
    pruned = (
        hashed.withColumn("srn", F.row_number().over(w_sub))
        .filter(F.col("srn") <= _KMV_K)
        .select("tag", "h")
    )
    w_tag = Window.partitionBy("tag").orderBy("h")
    sk = (
        pruned.withColumn("rn", F.row_number().over(w_tag))
        .filter(F.col("rn") <= _KMV_K)
        .select("tag", "h")
    )
    kth = sk.groupBy("tag").agg(
        F.when(F.count("*") < _KMV_K, F.lit(4503599627370496).cast("bigint"))
        .otherwise(F.max("h"))
        .alias("theta_tag")
    )
    theta = kth.agg(F.min("theta_tag").alias("theta"))
    s = (
        sk.select("h")
        .distinct()
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") <= F.col("theta"))
    )
    a = sk.filter(F.col("tag") == "A").select("h", F.lit(1).alias("in_a"))
    b = sk.filter(F.col("tag") == "R").select("h", F.lit(1).alias("in_b"))
    flags = (
        s.join(F.broadcast(a), "h", "left")
        .join(F.broadcast(b), "h", "left")
        .select(
            "theta",
            F.when(
                F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
            ).otherwise(0).alias("in_both"),
        )
    )
    est = flags.groupBy("theta").agg(
        F.count("*").cast("bigint").alias("n_theta"),
        F.sum("in_both").cast("bigint").alias("n_both"),
    )
    # exact closed-loop arm: reads the SAME per_key branch as the
    # sketch arm (one shared exchange), then one tiny membership
    # aggregate — no windows, no second fact scan
    exact = per_key.agg(
        F.sum("has_a").cast("bigint").alias("n_a"),
        F.sum("has_b").cast("bigint").alias("n_b"),
        F.sum(F.col("has_a") * F.col("has_b")).cast("bigint").alias("n_inter"),
    )
    union_est = (
        (F.col("n_theta") - 1) * F.lit(4503599627370496.0) / F.col("theta")
    )
    jac_est = F.col("n_both").cast("double") / F.col("n_theta")
    return est.crossJoin(F.broadcast(exact)).select(
        "n_a",
        "n_b",
        "n_inter",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard_exact"),
        "n_theta",
        "n_both",
        jac_est.alias("jaccard_est"),
        union_est.alias("union_est"),
        (jac_est * union_est).alias("inter_est"),
    )


@query(
    "cms_join_size_estimate",
    oracle=f"""
    WITH keyed AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ), cells AS (
      SELECT row_id, bucket, CAST(SUM(cnt) AS BIGINT) AS cell FROM (
"""
    + "\n        UNION ALL\n".join(
        f"        SELECT {i} AS row_id,"
        f" {_sql_hash32('CAST(key AS VARCHAR)', f's{i}')} % {_CMS_W} AS bucket,"
        f" cnt FROM keyed"
        for i in range(_CMS_D)
    )
    + f"""
      ) GROUP BY row_id, bucket
    ), per_row AS (
      SELECT row_id, CAST(SUM(cell * cell) AS BIGINT) AS est FROM cells
      GROUP BY row_id
    ), est AS (
      SELECT CAST(MIN(est) AS BIGINT) AS cms_estimate FROM per_row
    ), truth AS (
      SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS true_join_size FROM keyed
    )
    SELECT t.true_join_size, e.cms_estimate,
           CAST(e.cms_estimate AS DOUBLE) / t.true_join_size AS overestimate_ratio
    FROM truth t, est e
    """,
    covers=["M6-sketch", "A-extended"],
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from sketches alone (the AGMS/CMS inner-
    product estimator a cost-based optimizer runs before picking a
    join strategy): |A ⋈ B| on a key = Σ_k cntA(k)·cntB(k), estimated
    as min over sketch rows of the cell-wise inner product of the two
    sides' count-min matrices — here on the lineitem part-key SELF
    join, i.e. the exact quantity that predicts the pairwise blowups
    this engine's dedup/graph stages salt against (the co-purchase
    pair count IS this number).  Estimate ≥ truth by construction
    (hash collisions only add); the realized overestimate ratio rides
    alongside the exact answer as the closed loop.

    Every quantity is INTEGER math over hash-deterministic cells, so
    even the estimate compares bit-exact across engines.

    Scale: the sketch path needs one per-key count (map-side combined)
    + a d×w-cell matrix per side — sides never meet on raw keys, and
    two 100 TB tables' join size prices out from two broadcastable
    matrices; the matrices merge across shards by cell-SUM like every
    CMS here."""
    li = parallel_scan(spark, sf_dir, "lineitem")
    keyed = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    buckets = F.array(
        *[
            (_hash32(F.col("key").cast("string"), f"s{i}") % _CMS_W)
            for i in range(_CMS_D)
        ]
    )
    cells = (
        keyed.select("cnt", F.posexplode(buckets).alias("row_id", "bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cell"))
    )
    est = (
        cells.groupBy("row_id")
        .agg(F.sum(F.col("cell") * F.col("cell")).cast("bigint").alias("est"))
        .agg(F.min("est").cast("bigint").alias("cms_estimate"))
    )
    truth = keyed.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("true_join_size")
    )
    return truth.crossJoin(F.broadcast(est)).select(
        "true_join_size",
        "cms_estimate",
        (
            F.col("cms_estimate").cast("double") / F.col("true_join_size")
        ).alias("overestimate_ratio"),
    )


_BFS_HOPS = 3


def _bfs_oracle() -> str:
    """Unrolled-frontier BFS oracle (the PageRank/k-core fixed-round
    construction): reach0 = {source}; frontierN = neighbors(frontier
    N-1) − reachN-1."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM edges UNION ALL SELECT v AS a, u AS b FROM edges
    ), src AS (SELECT MIN(a) AS s FROM sym),
    reach0 AS (SELECT s AS node FROM src),
    front0 AS (SELECT s AS node FROM src)"""
    ]
    for h in range(1, _BFS_HOPS + 1):
        parts.append(
            f""", front{h} AS MATERIALIZED (
      SELECT DISTINCT s.b AS node
      FROM sym s JOIN front{h - 1} f ON s.a = f.node
      WHERE NOT EXISTS (SELECT 1 FROM reach{h - 1} r WHERE r.node = s.b)
    ), reach{h} AS MATERIALIZED (
      SELECT node FROM reach{h - 1} UNION ALL SELECT node FROM front{h}
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({h} AS BIGINT) AS hop, CAST((SELECT COUNT(*) FROM front{h}) AS BIGINT) AS n_new,"
        f" CAST((SELECT COUNT(*) FROM reach{h}) AS BIGINT) AS n_reached"
        for h in range(_BFS_HOPS + 1)
    )
    return "".join(parts) + "\n    " + selects


@query(
    "copurchase_bfs_hops",
    oracle=_bfs_oracle(),
    covers=["M6-graph", "X-iterative", "A-extended"],
)
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph TRAVERSAL (the class the PR/triangle/k-core/CC layer
    didn't yet cover): 3-hop breadth-first expansion from the
    smallest-id part in the co-purchase graph, reporting per hop the
    newly-reached and cumulative node counts — the reachability /
    neighborhood-size primitive behind "products within k hops",
    contamination spread, and graph-feature generation.

    Plan: each hop is ONE frontier⋈edges equi-join + an anti join
    against the reached set, both hash-partitioned on the node key —
    the frontier never materializes more than its own neighborhood,
    and the reached set is checkpointed per hop to truncate lineage
    (the `neardup_components` idiom).  Hop count is FIXED so the
    oracle unrolls; an until-empty loop is the same code with the
    scalar-aggregate stop test."""
    sym = copurchase_edges(spark, sf_dir).select(
        F.col("u").alias("ga"), F.col("v").alias("gb")
    )
    frontier = sym.agg(F.min("ga").alias("node"))
    reached = frontier
    rows = [(0, 1, 1)]
    for h in range(1, _BFS_HOPS + 1):
        nxt = materialize(
            sym.join(frontier, sym.ga == frontier.node)
            .select(F.col("gb").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
        )
        reached = materialize(reached.unionByName(nxt))
        rows.append((h, nxt.count(), reached.count()))
        frontier = nxt
    return spark.createDataFrame(rows, "hop bigint, n_new bigint, n_reached bigint")


_RA_DEG_CAP = 40  # wedge centers capped at this degree (hub guard)
_RA_MIN_SUPPORT = 2  # edge = co-purchased in >= this many distinct orders
_RA_TOPK = 50

_SQL_RA_EDGES = f"""
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {_RA_MIN_SUPPORT}
"""


@query(
    "copurchase_link_prediction",
    oracle=f"""
    WITH pairs AS ({_SQL_RA_EDGES}),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
      ) GROUP BY node
    ), capped AS (
      SELECT n.z, n.nbr, d.d FROM (
        SELECT u AS z, v AS nbr FROM pairs
        UNION ALL SELECT v AS z, u AS nbr FROM pairs
      ) n JOIN deg d ON d.node = n.z WHERE d.d <= {_RA_DEG_CAP}
    ), wedges AS (
      SELECT a.nbr AS u, b.nbr AS v, a.d
      FROM capped a JOIN capped b ON a.z = b.z AND a.nbr < b.nbr
    ), scores AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_capped,
             CAST(CAST(SUM(CAST(1.0 / d AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS ra_score
      FROM wedges GROUP BY u, v
    ), cand AS (
      SELECT s.u, s.v, s.common_capped, s.ra_score
      FROM scores s LEFT JOIN pairs p ON p.u = s.u AND p.v = s.v
      WHERE p.u IS NULL
    )
    SELECT u, v, common_capped, ra_score FROM cand
    ORDER BY ra_score DESC, u, v LIMIT {_RA_TOPK}
    """,
    covers=["M6-graph", "A-extended", "J-extended", "L-extended"],
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the SUPPORT-FILTERED part co-purchase graph
    by RESOURCE ALLOCATION index: edges are pairs co-purchased in >= 2
    distinct orders (the market-basket support filter — one-off
    coincidences are noise, and it is what keeps the graph SPARSE:
    random one-order co-occurrence grows ~quadratically with scale
    while repeat co-purchase tracks true affinity, measured 115k -> 3.4k
    edges at sf0.01); for part pairs NOT yet linked, score
    RA(u,v) = sum over z in N(u) & N(v) of 1/deg(z) and return the top
    candidates — "customers who bought these also bought", with the RA
    weighting (common neighbors discounted by their promiscuity) that
    wins the classic link-prediction benchmarks.  Unlike Adamic-Adar,
    RA needs no logarithm, so the score rides the decimal sum and
    hash-compares bit-exactly.

    Two-hop enumeration is the O(sum deg^2) trap, so wedge CENTERS are
    additionally capped at deg <= 40: a hub shared by thousands of
    parts contributes <= 1/40 per wedge to RA while generating deg^2
    wedges — the cap drops the score's noise floor, not its signal,
    and bounds per-center fan-out at C(40,2) (same principle as the
    LSH bucket salt caps in dedup.py).

    Shuffle shape: the support filter IS the first aggregate (groupBy
    pair), then one groupBy z (the capped self-join co-locates by
    center), one groupBy (u,v) for the score, one anti-join against
    the existing edges."""
    # feeds degrees, wedge enumeration and the anti-join
    pairs = materialize(copurchase_support_pairs(spark, sf_dir, _RA_MIN_SUPPORT))
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    nbrs = pairs.select(F.col("u").alias("z"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("z"), F.col("u").alias("nbr"))
    )
    capped = nbrs.join(deg, nbrs["z"] == deg["node"]).filter(
        F.col("d") <= _RA_DEG_CAP
    ).select("z", "nbr", "d")
    ca, cb = capped.alias("ca"), capped.alias("cb")
    wedges = ca.join(
        cb, (F.col("ca.z") == F.col("cb.z")) & (F.col("ca.nbr") < F.col("cb.nbr"))
    ).select(
        F.col("ca.nbr").alias("u"), F.col("cb.nbr").alias("v"), F.col("ca.d").alias("d")
    )
    scores = wedges.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("common_capped"),
        dsum(F.lit(1.0) / F.col("d"), "ra_score"),
    )
    cand = scores.join(pairs, ["u", "v"], "left_anti")
    return cand.select("u", "v", "common_capped", "ra_score").orderBy(
        F.desc("ra_score"), "u", "v"
    ).limit(_RA_TOPK)


_PREFILTER_M = 96  # filter bits (fixed demo dial; size M ~ 10x member keys)
_PREFILTER_K = 2  # hash functions


@query(
    "bloom_semijoin_prefilter_audit",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT s_suppkey FROM supplier WHERE s_nationkey < 5
    ), pos AS (
      SELECT DISTINCT
        {_sql_hash32("CAST(s_suppkey AS VARCHAR)", "bloom0")} % {_PREFILTER_M} AS p
      FROM members
      UNION
      SELECT DISTINCT
        {_sql_hash32("CAST(s_suppkey AS VARCHAR)", "bloom1")} % {_PREFILTER_M} AS p
      FROM members
    ), bloom AS (
      SELECT list(p ORDER BY p) AS bits FROM pos
    ), fact AS (
      SELECT l_suppkey,
             CASE WHEN l_suppkey IN (SELECT s_suppkey FROM members)
                  THEN 1 ELSE 0 END AS is_member
      FROM lineitem
    ), checked AS (
      SELECT f.is_member,
             CASE WHEN list_contains(b.bits,
                    {_sql_hash32("CAST(f.l_suppkey AS VARCHAR)", "bloom0")} % {_PREFILTER_M})
                   AND list_contains(b.bits,
                    {_sql_hash32("CAST(f.l_suppkey AS VARCHAR)", "bloom1")} % {_PREFILTER_M})
                  THEN 1 ELSE 0 END AS pass
      FROM fact f, bloom b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_member) AS BIGINT) AS n_member_rows,
           CAST(SUM(pass) AS BIGINT) AS n_pass_rows,
           CAST(SUM(CASE WHEN pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST(NULLIF(COUNT(*) - SUM(is_member), 0) AS DOUBLE) AS fp_rate,
           CAST(SUM(pass) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pass_rate
    FROM checked
    """,
    covers=["M6-sketches", "J-extended", "SC-layout"],
)
def bloom_semijoin_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter audit: build a Bloom filter over a dimension key
    set (suppliers from 5 nations) and measure how well it pre-filters
    the fact side BEFORE the real join — rows kept, true members,
    false positives, and the achieved fp/pass rates.  This is the
    semi-join reduction every 100 TB join wants: ship an M-bit filter
    to the fact scan instead of shuffling fact rows that can never
    match.

    Determinism: positions are md5-derived 32-bit hashes mod M
    (engine-portable, `_hash32`); the filter is a sorted distinct
    position array; rates are single correctly-rounded divisions.

    Scale: the filter build aggregates the (small) dim side to ONE
    constant-size row (≤ M positions) broadcast onto the fact scan —
    the membership test is array_contains in whole-stage codegen, no
    shuffle, no join; the final audit is one map-side-combinable
    aggregate.  M is a fixed demo dial sized ~10× the sf0.01 member
    count, so the sf0.1 run also demonstrates the UNDERSIZED-filter
    regime (fill → 1, fp_rate → 1) an operator sizing its real filter
    must avoid."""
    members = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select("s_suppkey")
        .distinct()
    )

    def pos(col: Column, i: int) -> Column:
        return _hash32(col.cast("string"), f"bloom{i}") % _PREFILTER_M

    bloom = (
        members.select(
            F.explode(
                F.array(*[pos(F.col("s_suppkey"), i) for i in range(_PREFILTER_K)])
            ).alias("p")
        )
        .agg(F.array_sort(F.collect_set("p")).alias("bits"))
    )
    fact = (
        load(spark, sf_dir, "lineitem")
        .select("l_suppkey")
        .join(
            F.broadcast(members.withColumnRenamed("s_suppkey", "l_suppkey"))
            .withColumn("m", F.lit(1)),
            "l_suppkey",
            "left",
        )
        .select("l_suppkey", F.coalesce(F.col("m"), F.lit(0)).alias("is_member"))
    )
    checked = fact.crossJoin(F.broadcast(bloom)).select(
        "is_member",
        F.when(
            F.array_contains(F.col("bits"), pos(F.col("l_suppkey"), 0))
            & F.array_contains(F.col("bits"), pos(F.col("l_suppkey"), 1)),
            1,
        )
        .otherwise(0)
        .alias("pass"),
    )
    fp = F.sum(F.when((F.col("pass") == 1) & (F.col("is_member") == 0), 1).otherwise(0))
    return checked.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("is_member").cast("bigint").alias("n_member_rows"),
        F.sum("pass").cast("bigint").alias("n_pass_rows"),
        fp.cast("bigint").alias("n_false_pos"),
        (
            fp.cast("double")
            # NULLIF guard (ADVICE r6): if every fact row were a member
            # the denominator is 0 — DuckDB double division yields inf,
            # Spark yields NULL; pin both engines to NULL.
            / F.nullif((F.count("*") - F.sum("is_member")).cast("double"), F.lit(0.0))
        ).alias("fp_rate"),
        (F.sum("pass").cast("double") / F.count("*").cast("double")).alias(
            "pass_rate"
        ),
    )



@query(
    "bitmap_distinct_rollup",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(COUNT(*) AS BIGINT) AS user_days,
           CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id)
             AS revisit_factor
    FROM du GROUP BY event_type ORDER BY event_type
    """,
    covers=["M6-sketch", "A-extended"],
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable COUNT-DISTINCT via packed integer bitmaps -- the
    roaring-bitmap pattern (Druid/ClickHouse `groupBitmap`, Kylin
    bitmap measures) that closes the gap the KMV sketch leaves: KMV
    partials merge but estimate; COUNT(DISTINCT) is exact but does NOT
    re-aggregate (a day-level distinct can't roll up to month without
    re-scanning raw events).  Bitmap partials do both: user_id maps to
    (word = id >> 6, bit = id & 63) -- an injective base-64 floor
    decomposition for ALL int64, negatives included -- and per-cell
    `bit_or` words are exact set unions at any rollup level.

    The query proves the rollup property end-to-end: level 1 builds
    per-(event_type, day, word) bitmaps from raw events ONCE; level 2
    merges day bitmaps per (event_type, word) WITHOUT touching raw
    data, carrying each day's popcount alongside; level 3 reads off
    exact distinct_users (popcount of the merged map), exact user_days
    (sum of day popcounts = SUM over days of that day's distinct), and
    their ratio (one division).  The oracle is the semantic definition
    itself -- COUNT(DISTINCT ...) -- so the driver check certifies the
    bitmap algebra against ground truth, not against a re-derivation.

    Exactness: pure integer/bitwise throughout (shiftleft/bit_or/
    bit_count agree bit-for-bit across engines); one final division.

    Scale: three cascading map-side-combinable aggregates with strictly
    decreasing grain; shuffle bytes are bounded by occupied words, not
    event rows.  Occupied words per cell range from distinct/64 (DENSE
    id space -- true of this fixture's sequential user_ids and of any
    dictionary-encoded dimension) up to min(distinct, id_space/64) when
    ids are sparse (e.g. raw 64-bit hashes): sparse-id deployments must
    remap through a dense dictionary first (or swap the packed word for
    a roaring-style container).  Under the dense assumption, at 10^9
    users a (type, day) cell is <= 125 MB of words spread across
    partitions --
    and the level-1 partials are exactly what a serving layer persists
    so week/month/lifetime exact distincts become popcount-only reads
    (the reference's only distinct-count is a driver-side dict of
    unique companies, `/root/reference/src/transform.py:143`; this is
    the cluster-scale, re-aggregable form of that question)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    l1 = ev.groupBy(
        "event_type", "day", F.shiftright("user_id", 6).alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT)))"
        ).alias("bits")
    )
    l2 = l1.groupBy("event_type", "word").agg(
        F.expr("bit_or(bits)").alias("merged_bits"),
        F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias("day_pop"),
    )
    return (
        l2.groupBy("event_type")
        .agg(
            F.expr("CAST(SUM(bit_count(merged_bits)) AS BIGINT)").alias(
                "distinct_users"
            ),
            F.expr("CAST(SUM(day_pop) AS BIGINT)").alias("user_days"),
        )
        .withColumn(
            "revisit_factor",
            F.col("user_days").cast("double") / F.col("distinct_users"),
        )
        .orderBy("event_type")
    )


@query(
    "rolling_7d_active_bitmap",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM ud
    )
    SELECT dd.d AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users_7d
    FROM days dd JOIN ud u ON u.d BETWEEN dd.d - 6 AND dd.d
    GROUP BY dd.d
    ORDER BY day
    """,
    covers=["M5-window", "M6-sketch", "A-extended"],
)
def rolling_7d_active_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct actives per day, computed ENTIRELY in
    bitmap algebra — the scale path beside `events.rolling_7d_active_users`
    (same semantics, same oracle, different plan): sliding
    COUNT(DISTINCT) is not window-mergeable, but daily WORD BITMAPS
    are — union is associative/commutative/idempotent — so the
    contribution explode fans out (day, word) rows (≤ distinct
    users/64 per day, 64x smaller than the (user, day) fan-out) and
    the per-window merge is `bit_or` + popcount, no distinct-expand
    anywhere.

    The "window day must itself be an event day" convention rides the
    explode for free: only the offset-0 contribution has d = window
    day, so max(d = day) per window marks real event days — no second
    consumer of the daily frame, no broadcast semi-join.

    Scale: one full-data shuffle to daily (day, word) bitmaps; the 7x
    fan-out and both downstream merges run on word rows.  At 10^9
    users/day this is 7 x 16M word rows per day instead of 7 x 10^9
    user rows — the difference between a WAU job that fits in a
    micro-batch and one that doesn't.  Pairs with
    `bitmap_distinct_rollup` (calendar rollup) and
    `streaming_bitmap_distinct` (live merge): one partial layout
    serves all three consumption patterns."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").groupBy(
        "d", F.shiftright("user_id", 6).alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT)))"
        ).alias("bits")
    )
    exploded = daily.select(
        F.explode(
            F.expr("sequence(d, date_add(d, 6), interval 1 day)")
        ).alias("day"),
        "d",
        "word",
        "bits",
    )
    per_word = exploded.groupBy("day", "word").agg(
        F.expr("bit_or(bits)").alias("bits"),
        F.max((F.col("d") == F.col("day")).cast("int")).alias("self_day"),
    )
    return (
        per_word.groupBy("day")
        .agg(
            F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias(
                "active_users_7d"
            ),
            F.max("self_day").alias("has_self"),
        )
        .filter(F.col("has_self") == 1)
        .drop("has_self")
        .orderBy("day")
    )


@query(
    "bitmap_retention_pairs",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    ), base AS (
      SELECT a.d AS day,
             COUNT(DISTINCT a.user_id) AS base_users,
             COUNT(DISTINCT CASE WHEN b.user_id IS NOT NULL
                                 THEN a.user_id END) AS retained_users
      FROM du a LEFT JOIN du b
        ON b.user_id = a.user_id AND b.d = a.d + 7
      GROUP BY a.d
    )
    SELECT day,
           CAST(base_users AS BIGINT) AS base_users,
           CAST(retained_users AS BIGINT) AS retained_users,
           CAST(retained_users AS DOUBLE) / base_users AS retention_7d
    FROM base
    WHERE day + 7 IN (SELECT d FROM days)
    ORDER BY day
    """,
    covers=["M6-sketch", "EV-retention", "A-extended"],
)
def bitmap_retention_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day+7 EXACT retention from the SAME daily word-bitmap
    partials the WAU query uses — set INTERSECTION this time: retained
    users on day d = popcount(bits_d & bits_{d+7}) per word.  Bitmap
    algebra now covers the whole engagement readout family: union
    (rolling actives), idempotent streaming merge (live distinct), and
    intersection (retention) — one persisted partial layout, three
    consumption patterns, all exact where sketches estimate.

    Plan: the self-join is folded into ONE aggregate by the union-tag
    trick — every daily (day, word, bits) row enters twice, once as
    itself ("base") and once shifted to day−7 ("back"), so a single
    groupBy(day, word) sees both sides and the AND runs inside the
    aggregate row; no self-join, no second consumer of the daily
    frame, two shuffles total (daily grain, then the tagged merge).
    The horizon guard (day+7 must be an observed day) rides the same
    aggregate as max(tag='back').

    Exactness: pure integer/bitwise + one correctly-rounded division
    per day.  The oracle is the semantic ground truth — a distinct
    (day, user) self-join with COUNT(DISTINCT) — so the driver row
    certifies the intersection algebra, not a re-derivation.

    Scale: shuffle rows bounded by days x occupied words x 2; at 10^9
    users/day the retention table is maintained from word partials the
    raw-events join could never afford (that join is the ORACLE's
    shape — fine at sf0.01, quadratic-ish pressure at lake scale)."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy(
        "day", F.shiftright("user_id", 6).alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT)))"
        ).alias("bits")
    )
    tagged = daily.select(
        "day", "word", "bits", F.lit(0).alias("tag")
    ).unionByName(
        daily.select(
            F.date_sub("day", 7).alias("day"),
            "word",
            "bits",
            F.lit(1).alias("tag"),
        )
    )
    merged = tagged.groupBy("day", "word").agg(
        F.max(F.when(F.col("tag") == 0, F.col("bits"))).alias("b_base"),
        F.max(F.when(F.col("tag") == 1, F.col("bits"))).alias("b_back"),
        F.max("tag").alias("has_back"),
    )
    per_day = merged.groupBy("day").agg(
        F.expr("CAST(SUM(bit_count(coalesce(b_base, 0))) AS BIGINT)").alias(
            "base_users"
        ),
        F.expr(
            "CAST(SUM(bit_count(coalesce(b_base, 0)"
            " & coalesce(b_back, 0))) AS BIGINT)"
        ).alias("retained_users"),
        F.max("has_back").alias("has_back"),
        F.max(F.when(F.col("b_base").isNotNull(), 1).otherwise(0)).alias(
            "has_base"
        ),
    )
    return (
        per_day.filter((F.col("has_back") == 1) & (F.col("has_base") == 1))
        .select(
            "day",
            "base_users",
            "retained_users",
            (
                F.col("retained_users").cast("double")
                / F.col("base_users")
            ).alias("retention_7d"),
        )
        .orderBy("day")
    )
