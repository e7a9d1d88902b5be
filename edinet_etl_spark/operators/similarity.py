"""M6 similarity search over the ``embeddings`` table.

Tiers:
- brute-force top-k: exact dot/cosine against every vector — the
  correctness baseline and the right plan when the query set is small
  (broadcast queries, one scan of the corpus, per-query top-k).
- blocked near-dup: restrict pairs to a blocking key (here ``label``,
  standing in for a coarse IVF centroid id) — the classic IVF shape.
- LSH bucketing: random-hyperplane signs → signature buckets; ANN
  probes only its bucket.  Hyperplanes are derived from md5 so the
  DuckDB oracle reproduces them exactly.
- IVF proper: deterministic-seed coarse quantizer, cell probe, exact
  rerank, nprobe dial, closed-loop recall@3, the k-means train step.
- compression: SQ8 (1 byte/dim) and PQ (1 byte/VECTOR: 4×16-d
  subspaces, 4-centroid codebooks) with ADC compressed-domain search
  and its own recall@3 — the FAISS IVFPQ ladder, each leg measured.
- training-data mining: semdedup pruning, hard-negative mining for
  contrastive objectives.

Numeric discipline: dot products are sequential double folds over the
array (fixed order → bit-deterministic, see ``dot_exact``); cosine adds
only deterministic double ops (sqrt, divide) on top.

Scale notes: brute force is O(|Q|·n·d) but embarrassingly parallel
(queries broadcast, corpus partition-local top-k via window rank with
WindowGroupLimit pushdown).  LSH/IVF cut n to a bucket: the join is a
hash equi-join on the bucket key.  At 100 TB you'd also store vectors
bucketed-on-disk so probes prune partitions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.blocks import ranked_salt, sql_ranked_salt
from edinet_etl_spark.numeric import _dec_to_double, dec, dec8, dsum
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize, scratch_dir
from edinet_etl_spark.tables import load, parallel_scan

def dot_exact(a: Column, b: Column) -> Column:
    """Deterministic dot product of two float-array columns in DOUBLE.

    A sequential left fold over the array: elements widen to double
    (exact), multiply (IEEE, deterministic), and accumulate in array
    order.  Unlike a grouped SUM, the addition order is fixed by the
    array itself, so the result is bit-stable across plans, partitions,
    and engines (verified bit-identical to DuckDB's list_dot_product).
    Array-local reduction = no shuffle, whole-stage codegen.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _sql_dot(a: str, b: str) -> str:
    """Oracle-side mirror of dot_exact (same left-to-right double fold)."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'e.embedding')} AS dot,
             {_sql_dot('q.embedding', 'q.embedding')} AS qnorm2,
             {_sql_dot('e.embedding', 'e.embedding')} AS nnorm2
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             dot / (sqrt(qnorm2) * sqrt(nnorm2)) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY dot / (sqrt(qnorm2) * sqrt(nnorm2)) DESC, neighbor_id
             ) AS rn
      FROM pairs
    )
    SELECT query_id, neighbor_id, cosine
    FROM scored WHERE rn <= 3
    """,
    covers=["M6-similarity", "W-extended"],
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a small query set (vec_id < 5):
    broadcast the queries, scan the corpus once, window-rank per query.
    The fixed-fold dot makes the ranking key deterministic, so top-k
    is stable across plans (ties broken by neighbor_id)."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    e = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cosine = dot_exact(F.col("q_emb"), F.col("n_emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("n_emb"), F.col("n_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
    )


_BLOCK_CAP = 64  # sub-block cap (sf0.01 max label block: 59 — intact)

# Shared CTE: the blocked cosine near-dup pair list (vec_a < vec_b,
# cosine > 0.35 within label×salt sub-blocks).  Consumed by
# `embedding_neardup_blocked` and by the LPA composition
# `graph.embedding_cluster_assignments` so both replay the identical
# candidate graph.
_SQL_NEARDUP_PAIRS_CTES = f"""
    blocked AS (
      SELECT vec_id, label, embedding,
             {sql_ranked_salt(['label'], 'vec_id', _BLOCK_CAP)} AS salt
      FROM embeddings
    ), npairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_sql_dot('a.embedding', 'b.embedding')} /
               (sqrt({_sql_dot('a.embedding', 'a.embedding')})
                * sqrt({_sql_dot('b.embedding', 'b.embedding')})) AS cosine
      FROM blocked a JOIN blocked b
        ON a.label = b.label AND a.salt = b.salt AND a.vec_id < b.vec_id
      WHERE {_sql_dot('a.embedding', 'b.embedding')} /
               (sqrt({_sql_dot('a.embedding', 'a.embedding')})
                * sqrt({_sql_dot('b.embedding', 'b.embedding')})) > 0.35
    )"""


@query(
    "embedding_neardup_blocked",
    oracle=f"""
    WITH {_SQL_NEARDUP_PAIRS_CTES}
    SELECT vec_a, vec_b, cosine FROM npairs
    """,
    covers=["M6-similarity", "M6-dedup"],
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with IVF-style blocking:
    only pairs sharing a block (label ≈ coarse centroid) are compared —
    the join is a hash equi-join on the block key, so pair count scales
    with bucket size, not corpus².

    Blocks are a fixed LABEL vocabulary, so block size itself grows
    linearly with the corpus and within-block pairs grow quadratically
    (measured 14.0× on the 10× probe).  Guard: the same ranked
    sub-block salt as the LSH/semdedup stages — blocks over _BLOCK_CAP
    split into balanced ≤-cap sub-blocks and pairs are probed within a
    sub-block only, making pair work linear in block size (probe:
    14.0× → 3.0×).  Cross-sub-block pairs are the documented recall
    trade."""
    # precompute each vector's norm ONCE before the join: computing it
    # per pair does O(pairs) folds instead of O(n) — at B-sized blocks
    # that is a 2B/3 reduction of all array work (6.1s → ~1.9s at
    # sf0.1).  sqrt(norm2_a)*sqrt(norm2_b) is the exact same double
    # expression the oracle evaluates per pair.
    emb = materialize(
        parallel_scan(spark, sf_dir, "embeddings")
        .withColumn(
            "norm", F.sqrt(dot_exact(F.col("embedding"), F.col("embedding")))
        )
        .withColumn("salt", ranked_salt(["label"], "vec_id", _BLOCK_CAP))
        # both self-join sides read this frame; exchange reuse would
        # share the scan but still run the salt window once per side
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cosine = dot_exact(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") > 0.35)
    )


_N_PLANES = 8
_DIMS = 64


def _plane_sign(p: int, i: int) -> int:
    """Deterministic ±1 for (plane p, dim i): first hex digit of
    md5('p:i') in 0..7 → +1.  Same formula the SQL oracle evaluates."""
    return 1 if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] <= "7" else -1


def _plane_array(p: int) -> Column:
    return F.array(*[F.lit(float(_plane_sign(p, i))) for i in range(1, _DIMS + 1)])


def _sql_plane_dot(p: int) -> str:
    plane = ", ".join(f"{float(_plane_sign(p, i))}" for i in range(1, _DIMS + 1))
    return f"list_dot_product(CAST(embedding AS DOUBLE[]), [{plane}])"


@query(
    "lsh_hyperplane_buckets",
    oracle=(
        "SELECT vec_id, "
        + " || ".join(
            f"(CASE WHEN {_sql_plane_dot(p)} > 0 THEN '1' ELSE '0' END)"
            for p in range(_N_PLANES)
        )
        + " AS bucket FROM embeddings"
    ),
    covers=["M6-similarity"],
)
def lsh_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the ANN scale path): 8 md5-seeded
    ±1 hyperplanes → 8 sign bits → 256 buckets.  A real query then
    probes only its bucket (plus neighbors for multi-probe).  The plane
    constants are literal arrays (broadcast with the plan); projection
    is zip_with/aggregate — no UDF, no shuffle."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    bits = [
        F.when(dot_exact(F.col("embedding"), _plane_array(p)) > 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in range(_N_PLANES)
    ]
    return emb.select("vec_id", F.concat(*bits).alias("bucket"))


@query(
    "lsh_bucket_ann",
    oracle=(
        "WITH buckets AS (SELECT vec_id, label, embedding, "
        + " || ".join(
            f"(CASE WHEN {_sql_plane_dot(p)} > 0 THEN '1' ELSE '0' END)"
            for p in range(_N_PLANES)
        )
        + """ AS bucket FROM embeddings)
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    WHERE a.vec_id < 20
    """
    ),
    covers=["M6-similarity", "J-extended"],
)
def lsh_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate retrieval: queries (vec_id < 20) probe their LSH
    bucket via a hash equi-join on the bucket signature — the O(bucket)
    replacement for the O(n) brute-force scan."""
    # both join sides read the bucketing (8 hyperplane dots per
    # vector) and differ (the query side filters), so reuse can't help
    buckets = materialize(lsh_hyperplane_buckets(spark, sf_dir))
    a = buckets.filter(F.col("vec_id") < 20).alias("a")
    b = buckets.alias("b")
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("a.bucket").alias("bucket"),
    )


_IVF_K = 10  # train-time centroid count: K cells at EVERY corpus size
# Seed stride is scale-relative — stride = ceil(n / K), so the seed set
# is "every stride-th vector" with exactly ~K members no matter how big
# the corpus is (a production IVF fixes K at train time; a fixed STRIDE
# would instead grow K linearly with the corpus, making the n×K
# assignment crossJoin quadratic — measured 25× on the 10× probe).
# At true lake scale K itself grows ~√n behind a hierarchical coarse
# quantizer; the salted sub-cell pair scan (semdedup_prune) keeps the
# pair stage linear in cell size either way.
_SQL_SEED_STRIDE = (
    f"(SELECT CAST(CEIL((MAX(vec_id) + 1) / {_IVF_K}.0) AS BIGINT) FROM embeddings)"
)


_STRIDE_CACHE: dict[str, int] = {}


def _seed_stride(emb, k: int = _IVF_K) -> int:
    """ceil((max_id+1)/k) — one scalar MAX aggregate over vec_id
    (a narrow single-column scan; Spark does NOT push MAX into parquet
    footers by default), collected driver-side like the engine's other
    config scalars and CACHED per plan so the five IVF-family queries
    don't each re-pay the pass within a session.  In production the
    stride is a property of the trained index, computed once at build
    time — this helper stands in for reading it from index metadata."""
    key = (
        emb.sparkSession.sparkContext.applicationId
        + f"|k={k}|"
        + emb._jdf.queryExecution().analyzed().toString()
    )
    if key not in _STRIDE_CACHE:
        max_id = emb.agg(F.max("vec_id")).collect()[0][0]
        _STRIDE_CACHE[key] = -(-(max_id + 1) // k)
    return _STRIDE_CACHE[key]


def _assign_cells(emb: DataFrame, p: int = 1) -> DataFrame:
    """Coarse-quantizer assignment, array-local (round 10, guide §2.4).

    The K seed centroids collapse to ONE array row
    (``sort_array(collect_list(struct(sid, semb)))`` — deterministic
    order) broadcast into the corpus scan, and each vector ranks them
    IN-ROW: ``array_sort(transform(seeds, s -> struct(-sdot, sid)))``
    reproduces the former ``(sdot DESC, sid)`` window order exactly
    (negation of a finite double preserves order; struct comparison
    breaks ties on sid).  vs the r9 spelling — broadcast crossJoin to
    n·K rows + ``row_number`` window — this removes BOTH the K-fold
    row fan-out and the full shuffle+sort of embedding-carrying rows:
    assignment is now a map-only stage, and every consumer of the cell
    table starts from a zero-exchange subtree.  ``embedding`` is a
    bound scan column inside the lambda (never a free expression — the
    round-7 winnowing O(n²) inlining trap), and the 1-row seed frame
    rides the repo's sanctioned broadcast-NL cross form.

    Output: (vec_id, embedding, cells = array of the p nearest seed
    ids, best first)."""
    seeds = emb.filter(F.col("vec_id") % _seed_stride(emb) == 0).select(
        F.col("vec_id").alias("sid"), F.col("embedding").alias("semb")
    )
    seed_arr = seeds.agg(
        F.sort_array(F.collect_list(F.struct("sid", "semb"))).alias("_seed_arr")
    )
    ranked = F.array_sort(
        F.transform(
            F.col("_seed_arr"),
            lambda s: F.struct(
                (-dot_exact(F.col("embedding"), s["semb"])).alias("nd"),
                s["sid"].alias("sid"),
            ),
        )
    )
    return emb.crossJoin(F.broadcast(seed_arr)).select(
        "vec_id",
        "embedding",
        F.transform(F.slice(ranked, 1, p), lambda x: x["sid"]).alias("cells"),
    )


@query(
    "ivf_ann_topk",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), scored AS (
      SELECT e.vec_id, e.embedding, s.sid,
             {_sql_dot('e.embedding', 's.semb')} AS sdot
      FROM embeddings e, seeds s
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sdot DESC, sid) AS rn
      FROM scored
    ), cells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), probe AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.sid AS cell_id,
             {_sql_dot('q.embedding', 'c.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('c.embedding', 'c.embedding')})) AS cosine
      FROM cells q JOIN cells c ON q.sid = c.sid AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, cell_id, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM probe
    ) WHERE rn <= 3
    """,
    covers=["M6-similarity", "J-extended", "W-extended"],
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN, end to end: coarse quantize → probe own cell →
    exact rerank.

    Centroids are *deterministic seeds* (every ``stride``-th vector) so
    the whole index build is a pure expression both engines replay —
    the structural twin of a k-means IVF (train step swapped for seed
    selection; at 100 TB you'd train centroids offline on a sample and
    broadcast them identically).  Costs: assignment = the array-local
    `_assign_cells` argmin (n·K in-row dots, ZERO shuffle — r10
    replaced the crossJoin + window spelling); probe = hash equi-join
    on cell id, O(cell) per query instead of O(n).  Recall improves by
    probing the p nearest cells instead of 1 (nprobe) — same plan,
    wider `_assign_cells(p)` slice.
    """
    emb = parallel_scan(spark, sf_dir, "embeddings")
    # NO repartition("sid") here (r11 revert of the r10 clustering):
    # with K=10 cells the sid hash occupies ~4 of 32 buckets, so every
    # downstream stage collapsed to that parallelism — the 10× rung
    # measured 3.2 s clustered vs 1.1 s unclustered (sf0.1: 0.90 vs
    # 0.82).  The feared per-side assignment recompute is a non-issue:
    # the q filter (vec_id < 5) pushes below the assignment project, so
    # the q-side recompute ranks 5 rows, and the c side computes the
    # n·K ranking once at full scan parallelism.  The tiny q side
    # broadcasts (AQE), so the join needs no co-partitioning either.
    cells = _assign_cells(emb).select(
        "vec_id", "embedding", F.col("cells")[0].alias("sid")
    )
    q = cells.filter(F.col("vec_id") < 5).alias("q")
    c = cells.alias("c")
    cosine = dot_exact(F.col("q.embedding"), F.col("c.embedding")) / (
        F.sqrt(dot_exact(F.col("q.embedding"), F.col("q.embedding")))
        * F.sqrt(dot_exact(F.col("c.embedding"), F.col("c.embedding")))
    )
    probe = q.join(
        c,
        (F.col("q.sid") == F.col("c.sid")) & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        F.col("q.sid").alias("cell_id"),
        cosine.alias("cosine"),
    )
    w_topk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        probe.withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cell_id", "cosine")
    )


@query(
    "kmeans_train_step",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), scored AS (
      SELECT e.vec_id, e.embedding, s.sid,
             {_sql_dot('e.embedding', 's.semb')} AS sdot
      FROM embeddings e, seeds s
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sdot DESC, sid) AS rn
      FROM scored
    ), cells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), flat AS (
      SELECT sid AS cell_id, i - 1 AS dim_idx,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM cells, UNNEST(generate_series(1, len(embedding))) t(i)
    )
    SELECT cell_id, CAST(dim_idx AS INT) AS dim_idx,
           CAST(CAST(SUM(CAST(x AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS centroid_val,
           COUNT(*) AS n_members
    FROM flat
    GROUP BY cell_id, dim_idx
    """,
    covers=["M6-similarity", "X-iterative", "A-extended"],
)
def kmeans_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact k-means/IVF training iteration: assign every vector to
    its nearest seed centroid (max dot product, ties to the lower seed
    id), then recompute each cell's centroid per dimension — the train
    step `ivf_ann_topk` stubs out with static seeds.  Iterating this
    operator IS Lloyd's algorithm; one step is enough to pin the
    semantics (assignment + exact mean) against the oracle, and the
    loop idiom (`materialize` per round) is proven by
    `neardup_components`.

    Plan: assignment = the array-local `_assign_cells` argmin (in-row
    seed ranking, ZERO shuffle — r10 replaced the crossJoin + window
    spelling); recompute = posexplode to (cell, dim) and ONE aggregate
    shuffle of (K × dims) groups.  Per-dimension means use the
    exact-decimal sum so the centroid is partitioning-independent —
    the property that makes a distributed k-means run reproducible.
    At 100 TB: K and dims are fixed, so shuffle volume is
    per-partition partials only; the dominant cost (n·K dots) is
    embarrassingly parallel."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    cells = _assign_cells(emb).select(
        F.col("cells")[0].alias("cell_id"), "embedding"
    )
    flat = cells.select(
        "cell_id", F.posexplode("embedding").alias("dim_idx", "xf")
    ).select("cell_id", "dim_idx", F.col("xf").cast("double").alias("x"))
    return flat.groupBy("cell_id", "dim_idx").agg(
        (
            F.sum(F.col("x").cast("decimal(18,8)")).cast("string").cast("double")
            / F.count("*")
        ).alias("centroid_val"),
        F.count("*").alias("n_members"),
    )


@query(
    "ivf_ann_nprobe2",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), scored AS (
      SELECT e.vec_id, e.embedding, s.sid,
             {_sql_dot('e.embedding', 's.semb')} AS sdot
      FROM embeddings e, seeds s
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sdot DESC, sid) AS rn
      FROM scored
    ), cells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), qcells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn <= 2 AND vec_id < 5
    ), probe AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'c.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('c.embedding', 'c.embedding')})) AS cosine
      FROM qcells q JOIN cells c ON q.sid = c.sid AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM probe
    ) WHERE rn <= 3
    """,
    covers=["M6-similarity", "J-extended", "W-extended"],
)
def ivf_ann_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ivf_ann_topk`'s recall dial turned to nprobe=2: each query
    probes its TWO nearest cells (assignment rank ≤ 2) while the corpus
    stays single-cell — strictly more candidates, monotonically better
    recall, same plan shape (the wider `_assign_cells(p=2)` slice is
    the only delta; cost grows linearly in nprobe, never back to
    O(n)).  This is the production knob: recall misses in IVF come
    from the query's true neighbors landing one cell over, and probing
    p cells recovers them without touching index build cost."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    assigned = _assign_cells(emb, p=2)
    cells = assigned.select("vec_id", "embedding", F.col("cells")[0].alias("sid"))
    qcells = (
        assigned.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding", F.explode("cells").alias("sid"))
        .alias("q")
    )
    c = cells.alias("c")
    cosine = dot_exact(F.col("q.embedding"), F.col("c.embedding")) / (
        F.sqrt(dot_exact(F.col("q.embedding"), F.col("q.embedding")))
        * F.sqrt(dot_exact(F.col("c.embedding"), F.col("c.embedding")))
    )
    probe = qcells.join(
        c,
        (F.col("q.sid") == F.col("c.sid")) & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        cosine.alias("cosine"),
    )
    w_topk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        probe.withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
    )


@query(
    "ivf_recall_at3",
    oracle=f"""
    WITH bf_pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'e.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    ), bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bf_pairs) WHERE rn <= 3
    ), seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sdot DESC, sid) AS rn
      FROM (
        SELECT e.vec_id, e.embedding, s.sid,
               {_sql_dot('e.embedding', 's.semb')} AS sdot
        FROM embeddings e, seeds s)
    ), cells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_dot('q.embedding', 'c.embedding')} /
                          (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                           * sqrt({_sql_dot('c.embedding', 'c.embedding')})) DESC,
                          c.vec_id) AS rn
        FROM cells q JOIN cells c ON q.sid = c.sid AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5) WHERE rn <= 3
    )
    SELECT bf.query_id,
           COUNT(ivf.neighbor_id) AS n_hits,
           COUNT(ivf.neighbor_id) / 3.0 AS recall_at3
    FROM bf LEFT JOIN ivf
      ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.query_id
    ORDER BY bf.query_id
    """,
    covers=["M6-similarity", "A-extended"],
)
def ivf_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement, closed-loop: recall@3 of the IVF index
    against the exact brute-force ground truth, per query vector —
    "measure, don't guess" applied to the index itself.  This is the
    number a production ANN deployment watches when tuning nprobe/K;
    here both the index AND its evaluation are oracle-checkable
    because every scoring step is the deterministic exact-dot
    pipeline.

    Cost note: ground truth is the O(n·q) brute-force pass — that's
    inherent to recall evaluation and is run over a SAMPLE of queries
    (5 here); the index path stays O(cell)."""
    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ivf_ann_topk(spark, sf_dir).select(
        F.col("query_id").alias("i_query_id"),
        F.col("neighbor_id").alias("i_neighbor_id"),
    )
    return (
        bf.join(
            ivf,
            (F.col("query_id") == F.col("i_query_id"))
            & (F.col("neighbor_id") == F.col("i_neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("i_neighbor_id").alias("n_hits"),
            (F.count("i_neighbor_id") / F.lit(3.0)).alias("recall_at3"),
        )
        .orderBy("query_id")
    )


_SEMDEDUP_TAU = 0.4
# Sub-cell cap for the semdedup pair scan (same scheme as the LSH
# giant-bucket salt): cells larger than this split into deterministic
# ≤-cap sub-cells ranked by vec_id, and near-dup pairs are only probed
# within a sub-cell.  64 keeps every sf0.01 cell intact (~50 members).
_SEM_CELL_CAP = 64


@query(
    "semdedup_prune",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), scored AS (
      SELECT e.vec_id, e.embedding, s.sid,
             {_sql_dot('e.embedding', 's.semb')} AS sdot
      FROM embeddings e, seeds s
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sdot DESC, sid) AS rn
      FROM scored
    ), ranked AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), cells AS (
      SELECT vec_id, embedding, sid,
             {sql_ranked_salt(['sid'], 'vec_id', _SEM_CELL_CAP)} AS salt
      FROM ranked
    ), dropped AS (
      SELECT DISTINCT b.sid, b.vec_id
      FROM cells a JOIN cells b
        ON a.sid = b.sid AND a.salt = b.salt AND a.vec_id < b.vec_id
      WHERE {_sql_dot('a.embedding', 'b.embedding')} /
              (sqrt({_sql_dot('a.embedding', 'a.embedding')})
               * sqrt({_sql_dot('b.embedding', 'b.embedding')})) > {_SEMDEDUP_TAU}
    )
    SELECT c.sid AS cell_id,
           COUNT(*) AS n_members,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM cells c LEFT JOIN dropped d
      ON c.sid = d.sid AND c.vec_id = d.vec_id
    GROUP BY c.sid
    """,
    covers=["M6-dedup", "M6-similarity", "J-extended"],
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    embeddings with the coarse quantizer, compare pairs ONLY within a
    cluster, and drop every vector that has a lower-id near-duplicate
    (cosine > τ) in its cell — keep-first semantics, matching
    `exact_dedup`'s convention.  Output is the per-cell dedup ledger
    (members / dropped / kept) a curation run reports.

    The reference has no semantic layer at all (its dedup is the A1
    130-over-120 filing argmax, /root/reference/src/transform.py:109-145);
    this is the embedding-space analogue a training-data pipeline needs.

    Plan: cell assignment reuses the IVF coarse quantizer
    (`_assign_cells`, array-local in-row argmin — ZERO shuffle until
    the ranked-salt window's hash exchange on cell id); the pair join is a hash
    equi-join on (cell, sub-cell) with cells over _SEM_CELL_CAP split
    into ranked sub-cells, so pair work is linear in cell size (cap
    constant), never O(cell²); norms are precomputed per vector (the
    `embedding_neardup_blocked` lesson).  K is the train-time constant
    (_IVF_K), so the n×K assignment is linear too — with both guards
    the 10× replicated probe dropped from 25.1× to ~2×.  Sub-cell
    granularity is the documented recall trade (a near-dup pair split
    across sub-cells survives the prune; exact-duplicate embeddings
    are folded upstream by exact dedup).  τ=0.4 sits just under this
    corpus's max within-cell cosine (0.483) so the prune is
    non-vacuous."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    cells = materialize(
        _assign_cells(emb)
        .select(
            "vec_id",
            F.col("cells")[0].alias("sid"),
            "embedding",
            F.sqrt(dot_exact(F.col("embedding"), F.col("embedding"))).alias("norm"),
        )
        # balanced sub-cell salt (shared `blocks.ranked_salt` scheme):
        # the pair scan below runs only within ≤-cap sub-cells, so a
        # cell of C members costs C·cap/2 cosines — linear in C, never
        # C²/2; round-robin keeps every sub-cell ≥ 2 members
        .withColumn("salt", ranked_salt(["sid"], "vec_id", _SEM_CELL_CAP))
        # materialized once: cells feeds the self-join AND the final
        # membership join, which reads only (sid, vec_id) — consumers
        # that differ, so reuse cannot share the assignment + window
    )
    a = cells.alias("a")
    b = cells.alias("b")
    cosine = dot_exact(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cosine > _SEMDEDUP_TAU)
        .select(F.col("b.sid").alias("sid"), F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dropped.withColumn("is_dropped", F.lit(1)), ["sid", "vec_id"], "left")
        .groupBy(F.col("sid").alias("cell_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count("*") - F.count("is_dropped")).alias("n_kept"),
        )
    )


@query(
    "embedding_sq8_recon_error",
    oracle="""
    WITH flat AS (
      SELECT vec_id, t.i - 1 AS dim_idx, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
    ), stats AS (
      SELECT dim_idx, MIN(x) AS dmin, MAX(x) AS dmax
      FROM flat GROUP BY dim_idx
    ), coded AS (
      SELECT f.vec_id, f.x, s.dmin, s.dmax,
             CASE WHEN s.dmax = s.dmin THEN 0
                  ELSE LEAST(255, CAST(FLOOR((f.x - s.dmin) / (s.dmax - s.dmin) * 256.0) AS INT))
             END AS code
      FROM flat f JOIN stats s ON f.dim_idx = s.dim_idx
    ), recon AS (
      SELECT vec_id, code,
             ABS(x - (dmin + ((CAST(code AS DOUBLE) + 0.5) * (dmax - dmin) / 256.0))) AS err,
             (dmax <> dmin AND (code = 0 OR code = 255)) AS sat
      FROM coded
    )
    SELECT vec_id,
           MAX(err) AS max_abs_err,
           CAST(SUM(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT)
             AS n_saturated
    FROM recon
    GROUP BY vec_id
    """,
    covers=["M6-similarity", "A-extended"],
)
def embedding_sq8_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding column with
    per-vector reconstruction error — the memory-compression leg of a
    production ANN index (IVF+SQ8 stores 1 byte/dim instead of 4,
    a 4× shrink of a 100 TB vector lake).  Codes: per-dimension
    min/max over the corpus → `floor((x-min)/(max-min)·256)` clamped
    to [0,255]; reconstruction at the bucket midpoint.

    Plan shape is the scale story: the per-dimension stats are ONE
    64-group aggregate collapsed to a single 64-element array row and
    broadcast — the corpus is then re-scanned ONCE with all math
    array-local (`transform` indexed lambda over the embedding), so
    there is NO n×dims shuffle and no join of the fact table; max/count
    per vector are array folds, order-independent and bit-exact (the
    oracle computes the same values through a flat join shape).
    Degenerate dims (min=max) code to 0 with zero error and are
    EXCLUDED from n_saturated — a constant dimension isn't an
    out-of-range clip, and counting it would inflate the metric."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    flat = emb.select("vec_id", F.posexplode("embedding").alias("dim_idx", "xf")).select(
        "vec_id", "dim_idx", F.col("xf").cast("double").alias("x")
    )
    stats_arr = (
        flat.groupBy("dim_idx")
        .agg(F.min("x").alias("dmin"), F.max("x").alias("dmax"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim_idx", "dmin", "dmax"))
            ).alias("stats")
        )
        .select(
            F.transform("stats", lambda s: s["dmin"]).alias("dmins"),
            F.transform("stats", lambda s: s["dmax"]).alias("dmaxs"),
        )
    )
    withstats = emb.crossJoin(F.broadcast(stats_arr))

    def _per_dim(v: Column, i: Column) -> Column:
        x = v.cast("double")
        dmin = F.element_at("dmins", i + 1)
        dmax = F.element_at("dmaxs", i + 1)
        code = F.when(dmax == dmin, F.lit(0)).otherwise(
            F.least(
                F.lit(255),
                F.floor((x - dmin) / (dmax - dmin) * 256.0).cast("int"),
            )
        )
        err = F.abs(x - (dmin + ((code.cast("double") + 0.5) * (dmax - dmin) / 256.0)))
        sat = (dmax != dmin) & ((code == 0) | (code == 255))
        return F.struct(code.alias("code"), err.alias("err"), sat.alias("sat"))

    coded = withstats.select(
        "vec_id",
        F.transform("embedding", _per_dim).alias("ce"),
    )
    return coded.select(
        "vec_id",
        F.array_max(F.transform("ce", lambda s: s["err"])).alias("max_abs_err"),
        F.aggregate(
            "ce",
            F.lit(0).cast("bigint"),
            lambda acc, s: acc
            + F.when(s["sat"], F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        ).alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the FAISS-style compressed-domain search
# leg that completes the IVF (coarse cells) + SQ8 (scalar codes) index
# family.  M subspaces × K centroids; centroids are deterministic seed
# sub-vectors (every stride-th vector, like the IVF coarse quantizer)
# so both engines replay the identical "trained" codebook.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces (64 dims → 4 × 16)
_PQ_DSUB = 16  # dims per subspace
_PQ_K = 4  # centroids per subspace codebook (2 bits/subspace)
_SQL_PQ_STRIDE = (
    f"(SELECT CAST(CEIL((MAX(vec_id) + 1) / {_PQ_K}.0) AS BIGINT) FROM embeddings)"
)
_SQL_PQ_SUBS = "[" + ", ".join(str(s) for s in range(_PQ_M)) + "]"


def _sql_pq_dist2(x: str, c: str) -> str:
    """|x|² − 2x·c + |c|² with a FIXED association — three bit-exact
    list_dot_product folds composed as ((a − 2b) + c), mirrored
    exactly by the Spark expression (`_pq_dist2`)."""
    return (
        f"((list_dot_product(CAST({x} AS DOUBLE[]), CAST({x} AS DOUBLE[]))"
        f" - (2 * list_dot_product(CAST({x} AS DOUBLE[]), CAST({c} AS DOUBLE[]))))"
        f" + list_dot_product(CAST({c} AS DOUBLE[]), CAST({c} AS DOUBLE[])))"
    )


# Shared oracle CTEs: slice each vector into M sub-vectors, build the
# seed codebook per subspace, assign each sub-vector to its nearest
# centroid (squared L2, ties to the lower centroid id).
_SQL_PQ_CODES_CTES = f"""
    subs AS (
      SELECT e.vec_id, CAST(t.s AS INT) AS sub_id,
             list_slice(e.embedding, t.s * {_PQ_DSUB} + 1,
                        t.s * {_PQ_DSUB} + {_PQ_DSUB}) AS subvec
      FROM embeddings e, UNNEST({_SQL_PQ_SUBS}) t(s)
    ), cents AS (
      SELECT CAST(e.vec_id // {_SQL_PQ_STRIDE} AS INT) AS cid,
             CAST(t.s AS INT) AS sub_id,
             list_slice(e.embedding, t.s * {_PQ_DSUB} + 1,
                        t.s * {_PQ_DSUB} + {_PQ_DSUB}) AS cvec
      FROM embeddings e, UNNEST({_SQL_PQ_SUBS}) t(s)
      WHERE e.vec_id % {_SQL_PQ_STRIDE} = 0
    ), pq_scored AS (
      SELECT s.vec_id, s.sub_id, c.cid,
             {_sql_pq_dist2('s.subvec', 'c.cvec')} AS dist2
      FROM subs s JOIN cents c ON s.sub_id = c.sub_id
    ), codes AS (
      SELECT vec_id, sub_id, cid, dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, sub_id ORDER BY dist2, cid) AS rn
        FROM pq_scored
      ) WHERE rn = 1
    )"""


def _pq_dist2(x: Column, c: Column) -> Column:
    """Spark mirror of `_sql_pq_dist2`: same three folds, same
    association, bit-identical doubles."""
    return (dot_exact(x, x) - (F.lit(2.0) * dot_exact(x, c))) + dot_exact(c, c)


def _pq_sub_id_explode() -> Column:
    return F.explode(F.array(*[F.lit(s) for s in range(_PQ_M)]))


def _pq_slice(vec: Column, sub_id: Column) -> Column:
    return F.slice(vec, sub_id * _PQ_DSUB + 1, F.lit(_PQ_DSUB))


def _pq_codes(spark: SparkSession, sf_dir: str):
    """(emb, subs, cents, codes): the PQ encode pipeline both search
    queries share.  Plan shape: sub-vector explode is array-local
    (×M rows, no shuffle); the codebook is K·M tiny rows broadcast;
    assignment is a broadcast hash join + a min(struct) argmin whose
    map-side partial aggregation collapses the N·M·K scored fan-out
    to N·M partial minima per partition before the one exchange — at
    100 TB the encode is one map-side pass plus that exchange."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    return pq_codes_from(emb)


def pq_codes_from(emb: DataFrame):
    """PQ encode over ANY (vec_id, embedding) frame — the reusable
    core, also driven by the hypothesis model test."""
    stride = _seed_stride(emb, _PQ_K)
    subs = emb.select(
        "vec_id", _pq_sub_id_explode().alias("sub_id"), "embedding"
    ).select(
        "vec_id",
        "sub_id",
        _pq_slice(F.col("embedding"), F.col("sub_id")).alias("subvec"),
    )
    cents = (
        emb.filter(F.col("vec_id") % stride == 0)
        .select(
            (F.col("vec_id") / stride).cast("int").alias("cid"),
            _pq_sub_id_explode().alias("sub_id"),
            "embedding",
        )
        .select(
            "cid",
            "sub_id",
            _pq_slice(F.col("embedding"), F.col("sub_id")).alias("cvec"),
        )
    )
    scored = subs.join(F.broadcast(cents), "sub_id").select(
        "vec_id",
        "sub_id",
        "cid",
        _pq_dist2(F.col("subvec"), F.col("cvec")).alias("dist2"),
    )
    # round-10 (guide §2.3, aggregate before you shuffle): the argmin
    # used to ride a row_number window — a FULL shuffle+sort of the
    # N·M·K scored fan-out.  min(struct(dist2, cid)) selects the
    # identical row (struct ordering = dist2 asc, then cid asc — the
    # window's exact tie-break) with map-side partial aggregation, so
    # only N·M partial minima per partition reach the exchange and
    # the sort disappears.
    codes = (
        scored.groupBy("vec_id", "sub_id")
        .agg(F.min(F.struct("dist2", "cid")).alias("m"))
        .select(
            "vec_id",
            "sub_id",
            F.col("m.cid").alias("cid"),
            F.col("m.dist2").alias("dist2"),
        )
    )
    return emb, subs, cents, codes


def _pq_fold4(col_fmt: str) -> str:
    """((x0 + x1) + x2) + x3 over per-subspace MAX-CASE pivots —
    fixed association so the double sum is engine-independent."""
    terms = [col_fmt.format(s=s) for s in range(_PQ_M)]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out}\n               + {t})"
    return out


@query(
    "pq_codebook_recon_error",
    oracle=f"""
    WITH {_SQL_PQ_CODES_CTES}
    SELECT vec_id,
           CAST(((MAX(CASE WHEN sub_id = 0 THEN cid END) * {_PQ_K}
             + MAX(CASE WHEN sub_id = 1 THEN cid END)) * {_PQ_K}
             + MAX(CASE WHEN sub_id = 2 THEN cid END)) * {_PQ_K}
             + MAX(CASE WHEN sub_id = 3 THEN cid END) AS INT) AS pq_code,
           {_pq_fold4("MAX(CASE WHEN sub_id = {s} THEN dist2 END)")} AS recon_err
    FROM codes
    GROUP BY vec_id
    """,
    covers=["M6-similarity", "A-extended"],
)
def pq_codebook_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: split each 64-d vector into 4 sub-vectors, assign
    each to its nearest of 4 seed centroids (squared L2, ties to the
    lower centroid id), pack the 4 codes into one byte-sized int and
    report the per-vector reconstruction error (sum of per-subspace
    residuals, fixed fold order).

    Completes the compression ladder next to SQ8
    (`embedding_sq8_recon_error`): SQ8 stores 1 byte/dim, PQ here
    stores 1 byte/VECTOR (4 × 2 bits) — the 256× compression that
    makes billion-vector search RAM-resident.  Plan: codebook is
    M·K = 16 rows broadcast; encode is map-side; the only exchange is
    the (vec_id, sub_id) min(struct) argmin aggregate, partial-
    aggregated map-side so the K-way scored fan-out never shuffles.  Reference analogue: the engine's binary
    filing lake treats large payloads as opaque compressed blobs
    (/root/reference/src/utils/helper.py:35-101); PQ is that idea for
    vector payloads."""
    _, _, _, codes = _pq_codes(spark, sf_dir)
    cpiv = [
        F.max(F.when(F.col("sub_id") == s, F.col("cid"))).alias(f"c{s}")
        for s in range(_PQ_M)
    ]
    dpiv = [
        F.max(F.when(F.col("sub_id") == s, F.col("dist2"))).alias(f"d{s}")
        for s in range(_PQ_M)
    ]
    packed = (
        ((F.col("c0") * _PQ_K + F.col("c1")) * _PQ_K + F.col("c2")) * _PQ_K
        + F.col("c3")
    ).cast("int")
    recon = ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    return (
        codes.groupBy("vec_id")
        .agg(*cpiv, *dpiv)
        .select("vec_id", packed.alias("pq_code"), recon.alias("recon_err"))
    )


# ADC (asymmetric distance) CTEs shared by the two search queries: the
# query keeps its exact sub-vectors; corpus vectors are represented
# ONLY by their codes.  Per query the distance table (LUT) has M·K
# entries; corpus distance = sum of M LUT lookups.
_SQL_PQ_ADC_CTES = f"""
    lut AS (
      SELECT q.vec_id AS query_id, q.sub_id, c.cid,
             {_sql_pq_dist2('q.subvec', 'c.cvec')} AS d
      FROM subs q JOIN cents c ON q.sub_id = c.sub_id
      WHERE q.vec_id < 5
    ), adc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             {_pq_fold4("MAX(CASE WHEN l.sub_id = {s} THEN l.d END)")} AS adc_dist2
      FROM codes k JOIN lut l ON k.sub_id = l.sub_id AND k.cid = l.cid
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id
    ), adc_top AS (
      SELECT query_id, neighbor_id, adc_dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc_dist2, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= 3
    )"""


def _pq_adc_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of the adc/adc_top CTEs: LUT is |Q|·M·K = 80 rows
    broadcast to the corpus code stream; the per-(query, neighbor) sum
    folds the M subspace distances in fixed sub_id order via MAX-CASE
    pivots (bit-identical association on both engines)."""
    _, subs, cents, codes = _pq_codes(spark, sf_dir)
    lut = (
        subs.filter(F.col("vec_id") < 5)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents), "sub_id")
        .select(
            "query_id",
            "sub_id",
            "cid",
            _pq_dist2(F.col("subvec"), F.col("cvec")).alias("d"),
        )
    )
    dpiv = [
        F.max(F.when(F.col("sub_id") == s, F.col("d"))).alias(f"d{s}")
        for s in range(_PQ_M)
    ]
    adc = (
        codes.join(F.broadcast(lut), ["sub_id", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .groupBy("query_id", "neighbor_id")
        .agg(*dpiv)
        .select(
            "query_id",
            "neighbor_id",
            (((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")).alias(
                "adc_dist2"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "adc_dist2")
    )


@query(
    "pq_adc_topk",
    oracle=f"""
    WITH {_SQL_PQ_CODES_CTES}, {_SQL_PQ_ADC_CTES}
    SELECT query_id, neighbor_id, adc_dist2 FROM adc_top
    """,
    covers=["M6-similarity", "J-extended", "W-extended"],
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with asymmetric distance computation: top-3 neighbors
    per query (vec_id < 5) ranked by the sum of per-subspace distances
    from the query's EXACT sub-vectors to each corpus vector's
    CENTROIDS — the corpus is touched only through its 1-byte codes.

    This is the memory-bound half of a FAISS IVFPQ index: at 100 TB of
    raw vectors the code table is ~0.4 % of the data, the LUT
    (|Q|·M·K doubles) broadcasts for free, and the scan is one
    map-side hash-join pass + a (query, neighbor) partial aggregate
    (map-side combine caps the shuffle at |Q| rows per neighbor).
    Composable with the IVF cell filter (`ivf_ann_topk`) to prune the
    scan itself."""
    return _pq_adc_top(spark, sf_dir)


@query(
    "pq_recall_at3",
    oracle=f"""
    WITH {_SQL_PQ_CODES_CTES}, {_SQL_PQ_ADC_CTES}, exact_pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_pq_dist2('q.embedding', 'e.embedding')} AS dist2
      FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ), exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn
        FROM exact_pairs
      ) WHERE rn <= 3
    )
    SELECT a.query_id,
           CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits,
           COUNT(e.neighbor_id) / 3.0 AS recall_at3
    FROM adc_top a LEFT JOIN exact_top e
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY a.query_id
    """,
    covers=["M6-similarity", "A-extended"],
)
def pq_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop PQ index quality: recall@3 of the compressed-domain
    ADC ranking against exact squared-L2 ground truth, per query — the
    same measurement discipline as `ivf_recall_at3` (don't ship an
    index without its recall number).  Ground truth is a broadcast
    query×corpus scan (|Q| = 5), the ADC side reuses the code path of
    `pq_adc_topk`; the comparison is a 15-row broadcast join."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    adc_top = _pq_adc_top(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact_pairs = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pq_dist2(F.col("q_emb"), F.col("n_emb")).alias("dist2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    exact_top = (
        exact_pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    hit = exact_top.withColumn("hit", F.lit(1))
    return (
        adc_top.join(F.broadcast(hit), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.lit(3.0)).alias("recall_at3"),
        )
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS a_emb
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT a.anchor_id, e.vec_id AS negative_id, e.label AS negative_label,
             {_sql_dot('a.a_emb', 'e.embedding')} /
               (sqrt({_sql_dot('a.a_emb', 'a.a_emb')})
                * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine
      FROM anchors a JOIN embeddings e ON e.label <> a.anchor_label
    )
    SELECT anchor_id, negative_id, negative_label, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    covers=["M6-similarity", "W-extended"],
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data mining: for each anchor (vec_id < 5)
    the 3 most-similar vectors with a DIFFERENT label — the "hard
    negatives" that make contrastive/embedding training informative
    (easy random negatives teach nothing; the near-miss neighbors
    define the decision boundary).

    Plan: anchors broadcast, corpus scanned once, per-anchor top-k via
    window rank with WindowGroupLimit pushdown — identical cost shape
    to `cosine_topk_bruteforce`.  At 100 TB you swap the scan for the
    ANN cell probe (`ivf_ann_topk`) filtered to foreign labels; the
    ranking and determinism discipline (fixed-fold dot, ties by id)
    stay the same."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_emb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            (
                dot_exact(F.col("a_emb"), F.col("embedding"))
                / (
                    F.sqrt(dot_exact(F.col("a_emb"), F.col("a_emb")))
                    * F.sqrt(dot_exact(F.col("embedding"), F.col("embedding")))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), "negative_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("anchor_id", "negative_id", "negative_label", "cosine")
    )


# Johnson–Lindenstrauss signed random projection: 64-d → _JL_DIMS-d.
_JL_DIMS = 32
_JL_CAND = 10  # candidates retrieved in projected space before rerank


def _jl_sign(p: int, i: int) -> int:
    """Deterministic ±1 for (projection p, dim i) — independent seed
    family from the LSH planes (`jl` prefix)."""
    return 1 if hashlib.md5(f"jl{p}:{i}".encode()).hexdigest()[0] <= "7" else -1


def _jl_plane_array(p: int) -> Column:
    return F.array(*[F.lit(float(_jl_sign(p, i))) for i in range(1, _DIMS + 1)])


def _sql_jl_dot(p: int) -> str:
    plane = ", ".join(f"{float(_jl_sign(p, i))}" for i in range(1, _DIMS + 1))
    return f"list_dot_product(CAST(embedding AS DOUBLE[]), [{plane}])"


def _sql_jl_dist(qa: str, na: str) -> str:
    """Explicit left-associated sum of squared projection diffs — the
    same fixed addition order the Spark side builds, so the distance is
    bit-deterministic in both engines."""
    terms = [
        f"({qa}.pj{p} - {na}.pj{p}) * ({qa}.pj{p} - {na}.pj{p})"
        for p in range(_JL_DIMS)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "jl_projection_recall",
    oracle=f"""
    WITH proj AS MATERIALIZED (
      SELECT vec_id,
             {', '.join(
                 f'{_sql_jl_dot(p)} / sqrt({_sql_dot("embedding", "embedding")})'
                 f' AS pj{p}'
                 for p in range(_JL_DIMS))}
      FROM embeddings
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_jl_dist('q', 'n')}, n.vec_id) AS rn
        FROM proj q JOIN proj n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < 5) WHERE rn <= {_JL_CAND}
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT t.query_id, t.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.query_id
                 ORDER BY {_sql_dot('q.embedding', 'n.embedding')} /
                          (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                           * sqrt({_sql_dot('n.embedding', 'n.embedding')})) DESC,
                          t.neighbor_id) AS rn
        FROM cand t
        JOIN embeddings q ON q.vec_id = t.query_id
        JOIN embeddings n ON n.vec_id = t.neighbor_id) WHERE rn <= 3
    ), bf_pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'e.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    ), bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bf_pairs) WHERE rn <= 3
    )
    SELECT bf.query_id,
           COUNT(ann.neighbor_id) AS n_hits,
           COUNT(ann.neighbor_id) / 3.0 AS recall_at3
    FROM bf LEFT JOIN ann
      ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id
    GROUP BY bf.query_id
    """,
    covers=["M6-similarity", "W-extended"],
)
def jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ANN leg, closed-loop: project every
    NORMALIZED vector 64-d → 32-d with deterministic ±1 signed
    projections (the md5-derived real-valued counterpart of the
    sign-LSH planes; normalizing first makes projected L2 a proxy for
    2−2·cosine), rank candidates by SQUARED L2 IN PROJECTED SPACE
    (32 mult-adds per pair instead of 64 + norms), fetch full vectors
    only for the top-10 candidates,
    rerank those exactly, and report recall@3 against the brute-force
    ground truth — the dimensionality-reduction member of the ANN
    ladder next to sign-LSH (binary), IVF (partition) and PQ
    (codebook).

    Determinism: each projection is a fixed-fold dot (dot_exact) over
    one correctly-rounded normalize division; the projected distance
    is an EXPLICIT left-associated 32-term sum of squares, identical
    in both engines — no libm, no grouped sum.

    Measured (sf0.01, the honest number): recall@3 = 5/15 — beside
    IVF's 6/15 at nprobe=1.  These near-random synthetic embeddings
    are JL's adversarial case: cosine margins between true and
    near-miss neighbours vanish in high dimension, so they sit inside
    the ε ≈ √(ln n / k) distortion; clustered production embeddings
    (where margins are real) are where the 2× pair-math saving costs
    little recall.  The dial is k (probed: 16-d/10-cand→3/15,
    32-d/10→5/15, 16-d/40→6/15).

    Scale: the projection pass is array-local codegen (zero shuffle,
    2× cheaper pair math); candidate generation scans projections
    only — at 100 TB the 32-d projection table is ~2× smaller than the
    corpus and is further bucketable by any LSH; full 64-d vectors are
    touched ONLY via the candidate id join (two hash joins of
    |queries|·10 rows) — the fetch-on-candidate shape every production
    reranker uses."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot_exact(F.col("embedding"), F.col("embedding")))
    proj = materialize(emb.select(
        "vec_id",
        *[
            (dot_exact(F.col("embedding"), _jl_plane_array(p)) / norm).alias(f"pj{p}")
            for p in range(_JL_DIMS)
        ],
    ))
    q = proj.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"pj{p}").alias(f"qpj{p}") for p in range(_JL_DIMS)],
    )
    n = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"pj{p}").alias(f"npj{p}") for p in range(_JL_DIMS)],
    )
    jdist = None
    for p in range(_JL_DIMS):
        d = F.col(f"qpj{p}") - F.col(f"npj{p}")
        term = d * d
        jdist = term if jdist is None else jdist + term
    w_cand = Window.partitionBy("query_id").orderBy("jdist", "neighbor_id")
    cand = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", jdist.alias("jdist"))
        .withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") <= _JL_CAND)
        .select("query_id", "neighbor_id")
    )
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    cosine = dot_exact(F.col("q_emb"), F.col("n_emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("n_emb"), F.col("n_emb")))
    )
    w_rr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    ann = (
        cand.join(qe, "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w_rr))
        .filter(F.col("rn") <= 3)
        .select("query_id", F.col("neighbor_id").alias("a_neighbor_id"))
    )
    bf = cosine_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        bf.join(
            ann,
            (bf.query_id == ann.query_id)
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(
            F.count("a_neighbor_id").alias("n_hits"),
            (F.count("a_neighbor_id") / F.lit(3.0)).alias("recall_at3"),
        )
    )


_MRL_DIMS = 16  # prefix dims ranked (embedding is 64-d)
_MRL_CAND = 10  # candidates fetched for exact rerank


def _sql_mrl_dot(a: str, b: str) -> str:
    return (
        f"list_dot_product(CAST({a}[1:{_MRL_DIMS}] AS DOUBLE[]), "
        f"CAST({b}[1:{_MRL_DIMS}] AS DOUBLE[]))"
    )


@query(
    "matryoshka_prefix_recall",
    oracle=f"""
    WITH cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_mrl_dot('q.embedding', 'n.embedding')} /
                          (sqrt({_sql_mrl_dot('q.embedding', 'q.embedding')})
                           * sqrt({_sql_mrl_dot('n.embedding', 'n.embedding')}))
                          DESC, n.vec_id) AS rn
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < 5) WHERE rn <= {_MRL_CAND}
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT t.query_id, t.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY t.query_id
                 ORDER BY {_sql_dot('q.embedding', 'n.embedding')} /
                          (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                           * sqrt({_sql_dot('n.embedding', 'n.embedding')})) DESC,
                          t.neighbor_id) AS rn
        FROM cand t
        JOIN embeddings q ON q.vec_id = t.query_id
        JOIN embeddings n ON n.vec_id = t.neighbor_id) WHERE rn <= 3
    ), bf_pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'e.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    ), bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bf_pairs) WHERE rn <= 3
    )
    SELECT bf.query_id,
           COUNT(ann.neighbor_id) AS n_hits,
           COUNT(ann.neighbor_id) / 3.0 AS recall_at3
    FROM bf LEFT JOIN ann
      ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id
    GROUP BY bf.query_id
    """,
    covers=["M6-similarity", "W-extended"],
)
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style ANN leg, closed-loop: rank candidates by the
    cosine of the FIRST 16 of 64 dimensions (MRL-trained embeddings
    front-load information, so the prefix is the cheap index
    representation), rerank the top-10 candidates with full-dimension
    cosine, report recall@3 vs brute force — the truncation member of
    the ANN ladder beside sign-LSH (binary), IVF (partition), PQ
    (codebook) and JL (projection).

    Unlike JL, the "projection" is free: a prefix slice needs no
    transform pass, no stored auxiliary table — at 100 TB the index
    can scan 4× fewer bytes by just reading a shorter array slice
    (with a columnar layout that splits the prefix into its own
    column, strictly less I/O).  The candidate fetch-and-rerank shape
    is identical to the JL leg: full vectors touched only through the
    |queries|×10 candidate id join.

    Determinism: prefix cosine is a fixed-fold dot over the sliced
    array + correctly-rounded sqrt/division — bit-identical in both
    engines.  These synthetic near-random embeddings do NOT front-load
    information (no MRL training), so measured recall is the honest
    adversarial floor, like the JL leg's."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    pre = materialize(emb.select(
        "vec_id", "embedding", F.slice(F.col("embedding"), 1, _MRL_DIMS).alias("pre")
    ))
    q = pre.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("pre").alias("q_pre"),
    )
    n = pre.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("pre").alias("n_pre"),
    )
    pre_cos = dot_exact(F.col("q_pre"), F.col("n_pre")) / (
        F.sqrt(dot_exact(F.col("q_pre"), F.col("q_pre")))
        * F.sqrt(dot_exact(F.col("n_pre"), F.col("n_pre")))
    )
    w_pre = Window.partitionBy("query_id").orderBy(F.desc("pre_cos"), "neighbor_id")
    cand = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pre_cos.alias("pre_cos"))
        .withColumn("rn", F.row_number().over(w_pre))
        .filter(F.col("rn") <= _MRL_CAND)
        .select("query_id", "neighbor_id")
    )
    full_cos = dot_exact(F.col("q_emb"), F.col("n_emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("n_emb"), F.col("n_emb")))
    )
    w_full = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    ann = (
        cand.join(q.select("query_id", "q_emb"), "query_id")
        .join(n.select("neighbor_id", "n_emb"), "neighbor_id")
        .select("query_id", "neighbor_id", full_cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= 3)
        .select(F.col("query_id").alias("ann_qid"), F.col("neighbor_id").alias("ann_id"))
    )
    bf = (
        n.select("neighbor_id", "n_emb")
        .crossJoin(F.broadcast(q.select("query_id", "q_emb")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", full_cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    return (
        bf.join(
            ann,
            (F.col("query_id") == F.col("ann_qid"))
            & (F.col("neighbor_id") == F.col("ann_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("ann_id").alias("n_hits"),
            (F.count("ann_id") / F.lit(3.0)).alias("recall_at3"),
        )
    )


@query(
    "ivf_partitioned_index_topk",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding AS semb
      FROM embeddings WHERE vec_id % {_SQL_SEED_STRIDE} = 0
    ), scored AS (
      SELECT e.vec_id, e.embedding, s.sid,
             {_sql_dot('e.embedding', 's.semb')} AS sdot
      FROM embeddings e, seeds s
    ), assign AS (
      SELECT vec_id, embedding, sid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sdot DESC, sid) AS rn
      FROM scored
    ), cells AS (
      SELECT vec_id, embedding, sid FROM assign WHERE rn = 1
    ), probe AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.sid AS cell_id,
             {_sql_dot('q.embedding', 'c.embedding')} /
               (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                * sqrt({_sql_dot('c.embedding', 'c.embedding')})) AS cosine
      FROM cells q JOIN cells c ON q.sid = c.sid AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, cell_id, cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM probe
    ) WHERE rn <= 3
    """,
    covers=["M6-similarity", "S-extended", "J-extended"],
)
def ivf_partitioned_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index PERSISTED as a cell-partitioned parquet layout,
    then queried with STORAGE-LEVEL partition pruning: the index build
    (same deterministic cell assignment as `ivf_ann_topk`) writes
    vectors ``partitionBy(sid)``; at query time the probed cell ids
    become a literal partition filter, so the scan lists and reads
    ONLY the probed cells' directories — the other ~K-1/K of the index
    never costs I/O, which is what makes a disk-resident vector index
    usable when the corpus dwarfs memory.  Results are identical to
    the in-memory `ivf_ann_topk` (same oracle).

    The probed-cell collect is |queries| ids (scalar loop control);
    pruning is asserted by `test_ivf_partitioned_index_prunes` (files
    actually read < files in the index) and pinned in the plan suite
    (PartitionFilters on the index scan).  At 100 TB the same layout
    is the bucketed/partitioned ANN shard map: route each query to its
    cells' files, fan out, rerank — no full-index pass anywhere."""
    import shutil

    emb = parallel_scan(spark, sf_dir, "embeddings")
    # The write's clustering exchange keys on (sid, deterministic salt)
    # instead of bare sid (r11): K=10 cells hash into ~4 of 32 buckets,
    # so the sid-only clustering serialized the write AND the read-back
    # (10× rung: 5.2 s sid-only vs 4.2 s salted vs 2.6/2.8 s at sf0.1).
    # The salt is xxhash64 of the PK — deterministic under task retry
    # (guide §2.5; never rand()) — and L scales with the cluster, so
    # each cell lands in ≤ L files of ~cell_bytes/L (guide §6 sizing:
    # at 100 TB cells are huge and MUST split; one-file-per-cell was a
    # fixture-size artifact).  Partition pruning is untouched — pruning
    # keys on the sid directory, not the file layout inside it.
    salt_l = max(1, spark.sparkContext.defaultParallelism // _IVF_K)
    cells = (
        _assign_cells(emb)
        .select("vec_id", "embedding", F.col("cells")[0].alias("sid"))
        .repartition(F.col("sid"), F.pmod(F.xxhash64("vec_id"), F.lit(salt_l)))
    )
    idx_dir = scratch_dir(spark, sf_dir, "ivfidx")
    shutil.rmtree(idx_dir, ignore_errors=True)
    cells.write.partitionBy("sid").parquet(idx_dir)
    # probed cells: the query vectors' own cell ids — |queries| scalars
    # read back from the index just written, so `cells` (the assignment
    # crossJoin) runs once, for the write
    stored = spark.read.parquet(idx_dir)
    probed = sorted(
        r["sid"]
        for r in stored.filter(F.col("vec_id") < 5).select("sid").distinct().collect()
    )
    index = stored.filter(F.col("sid").cast("bigint").isin(probed))
    q = (
        index.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("sid").cast("bigint").alias("q_sid"),
        )
    )
    cosine = dot_exact(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("embedding"), F.col("embedding")))
    )
    w_topk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        index.join(F.broadcast(q), F.col("sid").cast("bigint") == F.col("q_sid"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("q_sid").alias("cell_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w_topk))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cell_id", "cosine")
    )


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH expl AS (
      SELECT label,
             CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS cohort,
             t.i AS dim,
             CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
    ),
    perdim AS (
      SELECT label, dim,
             CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(CAST(SUM(CASE WHEN cohort = 0
                           THEN CAST(x AS DECIMAL(18,8)) END) AS VARCHAR)
                  AS DOUBLE) AS sum_a,
             CAST(CAST(SUM(CASE WHEN cohort = 1
                           THEN CAST(x AS DECIMAL(18,8)) END) AS VARCHAR)
                  AS DOUBLE) AS sum_b
      FROM expl GROUP BY label, dim
    ),
    shifts AS (
      SELECT label, dim, n_a, n_b,
             ABS(sum_a / CAST(n_a AS DOUBLE)
                 - sum_b / CAST(n_b AS DOUBLE)) AS shift
      FROM perdim
    ),
    mx AS (
      SELECT label,
             MAX(n_a) AS n_even, MAX(n_b) AS n_odd,
             MAX(shift) AS max_dim_shift
      FROM shifts GROUP BY label
    )
    SELECT m.label,
           CAST(m.n_even AS BIGINT) AS n_even,
           CAST(m.n_odd AS BIGINT) AS n_odd,
           m.max_dim_shift,
           CAST(MIN(s.dim) AS BIGINT) AS drift_dim
    FROM mx m JOIN shifts s
      ON s.label = m.label AND s.shift = m.max_dim_shift
    GROUP BY m.label, m.n_even, m.n_odd, m.max_dim_shift
    ORDER BY m.label
    """,
    covers=["SIM-extended", "A-extended"],
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two embedding cohorts (even vs
    odd vec_id, standing in for "last week's encoder output vs this
    week's") — the embedding-space drift monitor a training pipeline
    runs before trusting a refreshed encoder: for each label, the
    largest per-dimension shift between cohort centroids and which
    dimension moved most.

    Exactness: per-(label,dim,cohort) sums go through the decimal
    discipline (floats cast to DECIMAL(18,8) — exact, associative),
    surfaced via the string hop; each centroid is one IEEE division,
    the shift one subtraction + abs, and the per-label reduction is
    MAX (associative, order-independent).  The argmax dimension joins
    back on bit-identical doubles with ties resolved to MIN(dim) —
    no float accumulation anywhere.

    Scale: posexplode is linear (n x d rows) but feeds a partial
    aggregate in the same stage, so only labels x dims x partitions
    combiner rows shuffle; everything after operates on the collapsed
    labels x dims grid (~640 rows here, constant in corpus size).  The
    argmax join-back is a broadcast of the per-label max row.  This is
    the same collapse-then-tiny-grid shape as `eventmix_chi2_drift`."""
    emb = load(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "label",
        "is_a",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    perdim = expl.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("is_a"), dec(F.col("x"))))
        .cast("string")
        .cast("double")
        .alias("sum_a"),
        F.sum(F.when(~F.col("is_a"), dec(F.col("x"))))
        .cast("string")
        .cast("double")
        .alias("sum_b"),
    )
    shifts = perdim.select(
        "label",
        "dim",
        "n_a",
        "n_b",
        F.abs(
            F.col("sum_a") / F.col("n_a").cast("double")
            - F.col("sum_b") / F.col("n_b").cast("double")
        ).alias("shift"),
    )
    mx = shifts.groupBy("label").agg(
        F.max("n_a").cast("bigint").alias("n_even"),
        F.max("n_b").cast("bigint").alias("n_odd"),
        F.max("shift").alias("max_dim_shift"),
    )
    s = shifts.select(
        F.col("label").alias("s_label"), "dim", F.col("shift").alias("s_shift")
    )
    return (
        s.join(
            F.broadcast(mx),
            on=(s.s_label == mx.label) & (s.s_shift == mx.max_dim_shift),
        )
        .groupBy("label", "n_even", "n_odd", "max_dim_shift")
        .agg(F.min("dim").cast("bigint").alias("drift_dim"))
        .select("label", "n_even", "n_odd", "max_dim_shift", "drift_dim")
        .orderBy("label")
    )


_MRR_NQ = 20  # evaluation query set: vec_id < NQ
_MRR_K = 10  # hit window for the @k columns


@query(
    "retrieval_mrr_eval",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
             CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS rel,
             {_sql_dot('q.embedding', 'e.embedding')}
               / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                  * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine
      FROM embeddings q, embeddings e
      WHERE q.vec_id < {_MRR_NQ} AND e.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id,
           CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
             AS first_rel_rank,
           COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rnk END), 0.0)
             AS reciprocal_rank,
           CAST(SUM(CASE WHEN rel = 1 AND rnk <= {_MRR_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_topk,
           CAST(SUM(rel) AS BIGINT) AS n_relevant
    FROM ranked GROUP BY query_id ORDER BY query_id
    """,
    covers=["M6-similarity", "W-extended", "A-extended"],
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard for the embedding index: per query,
    the rank of the first SAME-LABEL neighbor under brute-force cosine
    (MRR's reciprocal-rank term — 1/rank, an exact division), plus
    relevant-in-top-k and total-relevant (the precision@k / recall@k
    numerators).  This is the eval harness one runs after swapping the
    ANN index (IVF nprobe, PQ bits, MRL prefix) to see retrieval
    quality move — label stands in for the human judgment column of a
    real eval set.

    No libm: rank is an integer, 1/rank and cosine are correctly
    rounded, NDCG's log2 discount is deliberately NOT computed — MRR +
    hit counts carry the same signal bit-exactly.

    Scale: queries broadcast (eval sets are small by construction),
    corpus scanned once, per-query ranking is a window over the
    query's own candidate rows.  Cost is NQ·N dot products of
    codegen-local array math — per-core-divisible, no shuffle beyond
    the rank repartition."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MRR_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    e = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    cosine = dot_exact(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("c_emb"), F.col("c_emb")))
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
            cosine.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("rnk")))
    return (
        ranked.groupBy("query_id")
        .agg(
            first_rel.cast("bigint").alias("first_rel_rank"),
            F.coalesce(F.lit(1.0) / first_rel, F.lit(0.0)).alias("reciprocal_rank"),
            F.sum(
                F.when((F.col("rel") == 1) & (F.col("rnk") <= _MRR_K), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rel_in_topk"),
            F.sum("rel").cast("bigint").alias("n_relevant"),
        )
        .orderBy("query_id")
    )


_PC_DIM = 64  # embedding dimensionality (asserted by the fold width)
_PC_V0 = 0.125  # 1/sqrt(64): unit start vector, exact in binary

_SQL_DSUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE)"


def _sql_pc_step(src: str, vexpr: str, w: str) -> str:
    """One Gram-matrix power step in portable SQL: w_pos = Σ_rows
    x_pos · (x·v), decimal-summed per coordinate."""
    return f"""
    {w}s AS (
      SELECT vec_id, emb, list_dot_product(emb, {vexpr}) AS s FROM {src}
    ), {w} AS (
      SELECT pos, {_SQL_DSUM.format(x='x * s')} AS w
      FROM (SELECT s, unnest(emb) AS x, unnest(range({_PC_DIM})) AS pos
            FROM {w}s)
      GROUP BY pos
    ), {w}n AS (
      SELECT {_SQL_DSUM.format(x='w * w')} AS n2 FROM {w}
    ), {w}v AS (
      SELECT list(w / sqrt(n2) ORDER BY pos) AS v FROM {w}, {w}n
    )"""


@query(
    "embedding_top_pc_power_iteration",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),{_sql_pc_step('e', '[' + ', '.join(['0.125'] * _PC_DIM) + ']', 'w1')},
    {_sql_pc_step('e', '(SELECT v FROM w1v)', 'w2')}
    SELECT pos AS dim_pos,
           w / sqrt((SELECT n2 FROM w2n)) AS pc_loading,
           sqrt((SELECT n2 FROM w2n)) AS gram_norm
    FROM w2 ORDER BY pos
    """,
    covers=["M6-similarity", "A-extended", "iterative"],
)
def embedding_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by TWO power
    iterations on the (uncentered) Gram matrix — the building block of
    PCA whitening / spectral index rotation, run without ever
    materializing the 64×64 covariance: each step is w = Xᵀ(Xv), i.e.
    one broadcast of the 64-float v, one fused scan computing the
    per-row projection x·v, and one 64-group decimal aggregate.

    Bit-exact iterative linear algebra: per-coordinate sums ride
    DECIMAL(18,8) (order-independent on any partitioning), the
    per-row projection is the fixed left-fold `dot_exact`, and the
    only rounding steps — x·v products, w/‖w‖ normalize, sqrt — are
    correctly rounded IEEE ops identical in any engine, so even the
    INTERMEDIATE iterate v₁ matches DuckDB bitwise and the unrolled
    SQL oracle reproduces the whole trajectory.  `gram_norm` = ‖XᵀXv₁‖
    is the Rayleigh-quotient eigenvalue estimate at convergence.

    Scale: each iteration shuffles exactly 64 groups (the posexplode
    feeds a map-side-combined aggregate); v never leaves one row, so
    iterations add plan depth, not data movement.  More iterations or
    deflation for PC2+ compose the same step; at 100 TB the scan
    dominates and the step count is the only multiplier."""
    emb = parallel_scan(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v_df = spark.range(1).select(
        F.array(*[F.lit(_PC_V0) for _ in range(_PC_DIM)]).alias("v")
    )
    last = None
    for _ in range(2):
        scored = emb.crossJoin(F.broadcast(v_df)).select(
            "embedding", dot_exact(F.col("embedding"), F.col("v")).alias("s")
        )
        w = (
            scored.select(F.posexplode("embedding").alias("pos", "x"), "s")
            .groupBy("pos")
            .agg(dsum(F.col("x").cast("double") * F.col("s"), "w"))
        )
        n2 = w.agg(dsum(F.col("w") * F.col("w"), "n2"))
        last = w.crossJoin(F.broadcast(n2))
        v_df = last.groupBy().agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", (F.col("w") / F.sqrt("n2")).alias("vx"))
                    )
                ),
                lambda s: s["vx"],
            ).alias("v")
        )
    return last.select(
        F.col("pos").cast("bigint").alias("dim_pos"),
        (F.col("w") / F.sqrt("n2")).alias("pc_loading"),
        F.sqrt("n2").alias("gram_norm"),
    ).orderBy("dim_pos")


_OUTLIER_TOPK = 20


@query(
    "embedding_label_outliers",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ), sums AS (
      SELECT label, pos,
             {_SQL_DSUM.format(x='x')} AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT label, unnest(emb) AS x,
                   unnest(range({_PC_DIM})) AS pos FROM e)
      GROUP BY label, pos
    ), cent AS (
      SELECT label, list(s / n ORDER BY pos) AS c FROM sums GROUP BY label
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_dot_product(
               list_transform(list_zip(e.emb, c.c),
                              p -> p[1] - p[2]),
               list_transform(list_zip(e.emb, c.c),
                              p -> p[1] - p[2])) AS dist2
      FROM e JOIN cent c ON c.label = e.label
    )
    SELECT vec_id, label, dist2 FROM scored
    ORDER BY dist2 DESC, vec_id LIMIT {_OUTLIER_TOPK}
    """,
    covers=["M6-similarity", "A-extended", "L-extended"],
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel/outlier detector: squared distance of each embedding
    to its OWN label's centroid, worst offenders first — the curation
    pass that surfaces probably-mislabeled or out-of-distribution
    rows before they poison a contrastive-training epoch (the
    embedding-space analogue of the text quality gates).

    Exactness: per-(label,dim) sums ride the decimal discipline, each
    centroid coordinate is one IEEE division, and dist² is the fixed
    left-fold of (x−c)² — identical subtraction/multiply/add sequence
    in both engines (`dot_exact` over a `zip_with` difference ↔
    DuckDB `list_dot_product` over a zipped `list_transform`), so the
    ranking key is bit-stable and the top-k deterministic (ties by
    vec_id).

    Scale: the posexplode feeds a partial aggregate in-stage (only
    labels×dims combiner rows shuffle); centroids are a labels-sized
    table BROADCAST back, so the scoring pass is one scan with
    array-local codegen math and the only full shuffle is the final
    top-k (TakeOrdered — no global sort materialization)."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    sums = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            dsum(F.col("x").cast("double"), "s"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    cent = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", (F.col("s") / F.col("n")).alias("cx")))
            ),
            lambda s: s["cx"],
        ).alias("c")
    )
    diff = F.zip_with(
        F.col("embedding"), F.col("c"), lambda a, b: a.cast("double") - b
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select("vec_id", "label", dot_exact(diff, diff).alias("dist2"))
        .orderBy(F.desc("dist2"), "vec_id")
        .limit(_OUTLIER_TOPK)
    )


_KNN_NQ = 50  # eval rows: vec_id < NQ
_KNN_K = 5


@query(
    "knn_label_accuracy",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             e.label AS cand_label,
             {_sql_dot('q.embedding', 'e.embedding')}
               / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                  * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cosine,
             e.vec_id AS cand_id
      FROM embeddings q, embeddings e
      WHERE q.vec_id < {_KNN_NQ} AND e.vec_id <> q.vec_id
    ), topk AS (
      SELECT query_id, true_label, cand_label FROM (
        SELECT query_id, true_label, cand_label,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
        FROM scored) WHERE rnk <= {_KNN_K}
    ), votes AS (
      SELECT query_id, true_label, cand_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM topk GROUP BY query_id, true_label, cand_label
    ), pred AS (
      SELECT query_id, true_label, cand_label AS pred_label FROM (
        SELECT query_id, true_label, cand_label,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY n_votes DESC, cand_label) AS vr
        FROM votes) WHERE vr = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM pred
    """,
    covers=["M6-similarity", "W-extended", "A-extended"],
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification accuracy over the embedding space (k=5,
    majority vote, ties to the smallest label) — the embedding-quality
    scorecard one step past retrieval metrics: `retrieval_mrr_eval`
    asks "are relevant items ranked high?", this asks "is the space
    good enough to CLASSIFY with?" — the metric that moves when an
    encoder refresh silently degrades (pairs with
    `embedding_centroid_drift` for the why).

    Deterministic end to end: the fixed-fold cosine ranks, row_number
    ties by candidate id, votes tie to the smallest label, accuracy is
    an integer ratio.

    Scale: eval queries broadcast; one corpus scan of array-local
    dots; the vote is a (query × ≤k)-row aggregate.  Swap the
    brute-force candidate stage for the IVF probe at 100 TB — the
    vote/accuracy stages are unchanged."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )
    e = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("c_emb"),
    )
    cosine = dot_exact(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("c_emb"), F.col("c_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    topk = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "true_label", "cand_label", cosine.alias("cosine"), "cand_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
    )
    votes = topk.groupBy("query_id", "true_label", "cand_label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "cand_label")
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("cand_label").alias("pred_label"))
    )
    correct = F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
    return pred.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


_RBO_D = 10  # evaluation depth
_RBO_NQ = 20
_RBO_HALF = 32  # MRL prefix length under comparison
# Tail weight of a candidate first co-present at depth m:
# W[m] = sum_{d=m..D} (1/2)^(d-1) / d.  RBO@D = (1-p) * sum W[m_c]
# with p = 1/2.  Computed ONCE in Python, PRE-ROUNDED to the 8-decimal
# grid (an arbitrary double quantized engine-side can land on a
# decimal midpoint where round-half modes differ — measured 1e-8
# flips), then injected as identical literals into both engines (the
# _RECALL_ANALYTIC precedent + the numeric.py scale doctrine).
_RBO_W = tuple(
    float(dec8(sum(0.5 ** (d - 1) / d for d in range(m, _RBO_D + 1))))
    for m in range(1, _RBO_D + 1)
)


@query(
    "rank_biased_overlap_eval",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
             {_sql_dot('q.embedding', 'e.embedding')}
               / (sqrt({_sql_dot('q.embedding', 'q.embedding')})
                  * sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS cos_full,
             {_sql_dot(f'q.embedding[1:{_RBO_HALF}]', f'e.embedding[1:{_RBO_HALF}]')}
               / (sqrt({_sql_dot(f'q.embedding[1:{_RBO_HALF}]', f'q.embedding[1:{_RBO_HALF}]')})
                  * sqrt({_sql_dot(f'e.embedding[1:{_RBO_HALF}]', f'e.embedding[1:{_RBO_HALF}]')}))
               AS cos_half
      FROM embeddings q, embeddings e
      WHERE q.vec_id < {_RBO_NQ} AND e.vec_id <> q.vec_id
    ), ranked AS (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_full DESC, cand_id) AS r_full,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_half DESC, cand_id) AS r_half
      FROM scored
    ), contrib AS (
      SELECT query_id,
             GREATEST(r_full, r_half) AS m
      FROM ranked WHERE r_full <= {_RBO_D} AND r_half <= {_RBO_D}
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_in_both_topd,
           0.5 * CAST(CAST(SUM(CAST(CASE m
             {' '.join(f'WHEN {m} THEN {w!r}' for m, w in enumerate(_RBO_W, start=1))}
             END AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS rbo
    FROM contrib GROUP BY query_id ORDER BY query_id
    """,
    covers=["M6-similarity", "W-extended", "A-extended"],
)
def rank_biased_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber et al.) between the full-dim cosine
    ranking and the Matryoshka 32-prefix ranking, per query — the
    ranking-similarity eval that recall@k can't express: recall counts
    set membership at one depth, RBO weights agreement geometrically
    by rank, so it detects a truncated index that finds the right
    items in the wrong ORDER.  p = 1/2 on purpose: every weight
    (1/2)^(d-1)/d is exact rational arithmetic, folded into one
    tail-weight lookup per candidate — a candidate first co-present
    at depth m contributes W[m] = Σ_{{d≥m}} p^(d-1)/d, so RBO needs
    no per-depth unrolling, just GREATEST(rank_a, rank_b).  The ten
    W constants are computed once in Python and injected as identical
    literals into both engines.

    Scale: same broadcast-queries / one-scan shape as the other eval
    arms; both rankings come from ONE pass (two window ranks over the
    same candidate rows); the RBO collapse is a ≤D-row-per-query
    aggregate riding the decimal discipline."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RBO_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    e = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )

    def cos(a, b):
        return dot_exact(a, b) / (
            F.sqrt(dot_exact(a, a)) * F.sqrt(dot_exact(b, b))
        )

    qh = F.slice(F.col("q_emb"), 1, _RBO_HALF)
    ch = F.slice(F.col("c_emb"), 1, _RBO_HALF)
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cos(F.col("q_emb"), F.col("c_emb")).alias("cos_full"),
            cos(qh, ch).alias("cos_half"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos_full"), "cand_id")
    wh = Window.partitionBy("query_id").orderBy(F.desc("cos_half"), "cand_id")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wh).alias("r_half"),
    )
    contrib = ranked.filter(
        (F.col("r_full") <= _RBO_D) & (F.col("r_half") <= _RBO_D)
    ).select("query_id", F.greatest("r_full", "r_half").alias("m"))
    w_expr = F.element_at(
        F.array(*[F.lit(w) for w in _RBO_W]), F.col("m")
    )
    return (
        contrib.groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_in_both_topd"),
            (
                F.lit(0.5)
                * F.sum(w_expr.cast("decimal(18,8)")).cast("string").cast("double")
            ).alias("rbo"),
        )
        .orderBy("query_id")
    )


# ----------------------------------------------------- MMR selection
_MMR_QUERIES = 3  # query set: vec_id < 3
_MMR_POOL = 8  # relevance-ranked candidate pool per query
_MMR_K = 4  # greedy MMR rounds (docs selected per query)


def _sql_mmr() -> str:
    """Oracle for ``mmr_diversified_topk``: the greedy loop unrolled
    into one chained CTE per round (sel1..sel_K), each picking the
    arg-max MMR score over the not-yet-selected pool."""
    cos = (
        f"{_sql_dot('q.embedding', 'e.embedding')} / "
        f"(sqrt({_sql_dot('q.embedding', 'q.embedding')}) * "
        f"sqrt({_sql_dot('e.embedding', 'e.embedding')}))"
    )
    ctes = [
        f"""pool AS (
      SELECT query_id, cand_id, rel, emb FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
               {cos} AS rel, e.embedding AS emb,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {cos} DESC, e.vec_id) AS rn
        FROM embeddings q, embeddings e
        WHERE q.vec_id < {_MMR_QUERIES} AND e.vec_id <> q.vec_id
      ) WHERE rn <= {_MMR_POOL})""",
        f"""sims AS (
      SELECT a.query_id, a.cand_id AS cand_a, b.cand_id AS cand_b,
             {_sql_dot('a.emb', 'b.emb')} /
               (sqrt({_sql_dot('a.emb', 'a.emb')})
                * sqrt({_sql_dot('b.emb', 'b.emb')})) AS sim
      FROM pool a JOIN pool b
        ON a.query_id = b.query_id AND a.cand_id <> b.cand_id)""",
        """sel1 AS (
      SELECT query_id, cand_id, rel AS score, CAST(1 AS INT) AS round FROM (
        SELECT query_id, cand_id, rel,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
        FROM pool) WHERE rn = 1)""",
    ]
    mmr = "CAST(0.7 AS DOUBLE) * p.rel - CAST(0.3 AS DOUBLE) * m.maxsim"
    for r in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, cand_id FROM sel{i}" for i in range(1, r)
        )
        ctes.append(
            f"""sel{r} AS (
      SELECT query_id, cand_id, score, CAST({r} AS INT) AS round FROM (
        SELECT p.query_id, p.cand_id, {mmr} AS score,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {mmr} DESC, p.cand_id) AS rn
        FROM pool p
        JOIN (SELECT s.query_id, s.cand_a AS cand_id, MAX(s.sim) AS maxsim
              FROM sims s
              JOIN ({prev}) sel ON s.query_id = sel.query_id
                               AND s.cand_b = sel.cand_id
              GROUP BY s.query_id, s.cand_a) m
          ON m.query_id = p.query_id AND m.cand_id = p.cand_id
        WHERE NOT EXISTS (SELECT 1 FROM ({prev}) d
                          WHERE d.query_id = p.query_id
                            AND d.cand_id = p.cand_id)
      ) WHERE rn = 1)"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM sel{r}" for r in range(1, _MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT query_id, round, cand_id, score AS mmr_score FROM ({union})"
    )


@query(
    "mmr_diversified_topk",
    oracle=_sql_mmr(),
    covers=["M6-similarity", "W-extended"],
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) —
    DIVERSIFIED top-k retrieval, the selection rule curation pipelines
    use to keep a retrieved/sampled batch from collapsing onto one
    mode: greedily pick argmax of lambda*relevance −
    (1−lambda)*max_sim_to_already_selected (lambda=0.7, k=4) from a
    relevance-ranked pool (top-8 per query, 3 queries).

    Plan shape for 100 TB: the ONLY corpus-sized stage is the
    relevance scan that builds the pool (broadcast queries, window
    top-k with WindowGroupLimit pushdown — identical to
    `cosine_topk_bruteforce`; swap in the IVF probe to cut it to a
    cell).  Everything after operates on the COLLAPSED pool
    (queries × 8 rows, constant-size, materialized once) — the
    greedy loop is K bounded rounds of anti-join +
    max-aggregate + argmax window over that constant frame, never the
    corpus.  Scores stay hash-exact: cosine = fixed-fold dot /
    (sqrt·sqrt), the MMR combination is two literal products and one
    subtraction, all correctly rounded identically in both engines."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    e = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("emb"))
    rel = dot_exact(F.col("q_emb"), F.col("emb")) / (
        F.sqrt(dot_exact(F.col("q_emb"), F.col("q_emb")))
        * F.sqrt(dot_exact(F.col("emb"), F.col("emb")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    pool = materialize(
        e.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", rel.alias("rel"), "emb")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    pa = pool.select("query_id", F.col("cand_id").alias("cand_a"), F.col("emb").alias("emb_a"))
    pb = pool.select("query_id", F.col("cand_id").alias("cand_b"), F.col("emb").alias("emb_b"))
    sim = dot_exact(F.col("emb_a"), F.col("emb_b")) / (
        F.sqrt(dot_exact(F.col("emb_a"), F.col("emb_a")))
        * F.sqrt(dot_exact(F.col("emb_b"), F.col("emb_b")))
    )
    sims = materialize(
        pa.join(pb, "query_id")
        .filter(F.col("cand_a") != F.col("cand_b"))
        .select("query_id", "cand_a", "cand_b", sim.alias("sim"))
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    selected = materialize(
        pool.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            F.col("rel").alias("score"),
            F.lit(1).cast("int").alias("round"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), "cand_id")
    for r in range(2, _MMR_K + 1):
        chosen = selected.select("query_id", "cand_id")
        maxsim = (
            sims.join(
                chosen.withColumnRenamed("cand_id", "cand_b"),
                ["query_id", "cand_b"],
            )
            .groupBy("query_id", "cand_a")
            .agg(F.max("sim").alias("maxsim"))
            .withColumnRenamed("cand_a", "cand_id")
        )
        pick = (
            pool.join(chosen, ["query_id", "cand_id"], "left_anti")
            .join(maxsim, ["query_id", "cand_id"])
            .withColumn(
                "score",
                F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("maxsim"),
            )
            .withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                "score",
                F.lit(r).cast("int").alias("round"),
            )
        )
        selected = materialize(selected.union(pick))
    return selected.select(
        "query_id", "round", "cand_id", F.col("score").alias("mmr_score")
    )


_KCENTER_K = 8  # selected centers (after the min-vec_id seed)


def _kcenter_oracle() -> str:
    """Unrolled greedy farthest-point SQL (K chained CTE rounds)."""

    def sq(a: str, b: str) -> str:
        z = f"list_zip({a}, {b})"
        d = f"list_transform({z}, p -> p[1] - p[2])"
        return f"list_dot_product({d}, {d})"

    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        "c0 AS (SELECT emb AS cemb FROM e WHERE vec_id = (SELECT MIN(vec_id) FROM e))",
        f"d0 AS (SELECT e.vec_id, e.emb, {sq('e.emb', 'c0.cemb')} AS mind FROM e, c0)",
    ]
    for r in range(1, _KCENTER_K + 1):
        parts.append(
            f"s{r} AS (SELECT vec_id, emb, mind FROM d{r - 1}"
            f" ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"r{r} AS (SELECT {r} AS round, vec_id AS center_id,"
            f" mind AS radius2 FROM s{r})"
        )
        if r < _KCENTER_K:
            nd = sq("d.emb", "s.emb")
            parts.append(
                f"d{r} AS (SELECT d.vec_id, d.emb,"
                f" CASE WHEN {nd} < d.mind THEN {nd} ELSE d.mind END AS mind"
                f" FROM d{r - 1} d, s{r} s)"
            )
    union = " UNION ALL ".join(f"SELECT * FROM r{r}" for r in range(1, _KCENTER_K + 1))
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT CAST(round AS INT) AS round,"
        f" center_id, radius2 FROM ({union}) ORDER BY round"
    )


@query(
    "kcenter_coreset_selection",
    oracle=_kcenter_oracle(),
    covers=["M6-similarity", "X-iterative", "M6-curation"],
)
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embedding corpus — the classic 2-approximation for max-coverage
    data selection: seed at the min vec_id, then K rounds of "add the
    point farthest from every selected center".  The emitted
    (round, center_id, radius2) sequence is the coverage-radius decay
    curve a curation pipeline reads to pick its coreset size.

    Exactness: squared L2 is the fixed left-fold of (x-y)² (identical
    in both engines, see `embedding_label_outliers`); the running
    min-distance uses least/CASE on bit-identical doubles, and every
    argmax breaks ties by vec_id, so the selection path is fully
    deterministic.

    Scale: each round is ONE linear scan AND one materializing action —
    the per-round argmax is folded into the same job as the
    min-distance update (a broadcast 1-row TakeOrdered cross-joined
    onto the frame, carried as constant c_id/c_mind columns), so the
    round's pick is read back with a free ``first()`` on the
    checkpointed blocks instead of a separate collect job (the r06
    10x probe's 2.2x was exactly those collect round-trips).  The K-1
    previously-selected centers never re-enter the distance kernel
    because the running min-distance column carries all prior rounds;
    K scans of the corpus with array-local codegen math and zero
    data shuffles is the plan you'd run at 100 TB (K is fixed, cost
    is K·n·dims flops)."""
    emb = parallel_scan(spark, sf_dir, "embeddings")

    def sqdist(center: Column) -> Column:
        diff = F.zip_with(
            F.col("embedding"),
            center,
            lambda a, b: a.cast("double") - b.cast("double"),
        )
        return dot_exact(diff, diff)

    # seed fold: the min-vec_id row rides a broadcast into the first
    # materialization instead of a driver collect
    seedf = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").alias("c_emb"))
    )
    cur = materialize(
        emb.crossJoin(F.broadcast(seedf))
        .select("vec_id", "embedding", sqdist(F.col("c_emb")).alias("mind"))
    )
    out = []
    for r in range(1, _KCENTER_K):
        best = (
            cur.orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
                F.col("mind").alias("c_mind"),
            )
        )
        nxt = materialize(
            cur.crossJoin(F.broadcast(best))
            .select(
                "vec_id",
                "embedding",
                F.least(F.col("mind"), sqdist(F.col("c_emb"))).alias("mind"),
                "c_id",
                "c_mind",
            )
        )
        pick = nxt.select("c_id", "c_mind").first()
        out.append((r, pick.c_id, pick.c_mind))
        cur = nxt.select("vec_id", "embedding", "mind")
    last = (
        cur.select("vec_id", "mind")
        .orderBy(F.desc("mind"), "vec_id")
        .limit(1)
        .collect()[0]
    )
    out.append((_KCENTER_K, last.vec_id, last.mind))
    return spark.createDataFrame(
        out, "round int, center_id bigint, radius2 double"
    ).orderBy("round")


# Reciprocal-rank fusion of two retrieval arms (Cormack et al. 2009):
# score(d) = sum over arms of 1/(k + rank_arm(d)).  Dials prefixed per
# CLAUDE.md.
_RRF_C = 60  # the standard RRF smoothing constant
_RRF_DEPTH = 20  # candidates fetched per arm
_RRF_TOP = 10  # fused results returned per query
_RRF_QUERIES = 5  # query-set bound (vec_id < this), same as ANN ops


def _sql_sqdist(a: str, b: str) -> str:
    """Squared L2 between two float-array columns, double fold (the
    `kcenter` oracle kernel)."""
    z = f"list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    d = f"list_transform({z}, p -> p[1] - p[2])"
    return f"list_dot_product({d}, {d})"


def _sql_sqdist_prefix(a: str, b: str) -> str:
    z = (
        f"list_zip(CAST({a}[1:{_MRL_DIMS}] AS DOUBLE[]),"
        f" CAST({b}[1:{_MRL_DIMS}] AS DOUBLE[]))"
    )
    d = f"list_transform({z}, p -> p[1] - p[2])"
    return f"list_dot_product({d}, {d})"


@query(
    "rrf_fusion_topk",
    oracle=f"""
    WITH arm_full AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_sqdist('q.embedding', 'n.embedding')}, n.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {_RRF_QUERIES}
      ) WHERE rn <= {_RRF_DEPTH}
    ), arm_prefix AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_sqdist_prefix('q.embedding', 'n.embedding')},
                          n.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {_RRF_QUERIES}
      ) WHERE rn <= {_RRF_DEPTH}
    ), fused AS (
      SELECT COALESCE(a.query_id, b.query_id) AS query_id,
             COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
             CAST(a.rn AS INT) AS rank_full,
             CAST(b.rn AS INT) AS rank_prefix,
             COALESCE(1.0 / ({_RRF_C} + a.rn), 0.0)
               + COALESCE(1.0 / ({_RRF_C} + b.rn), 0.0) AS rrf_score
      FROM arm_full a FULL JOIN arm_prefix b
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_full, rank_prefix, rrf_score FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, neighbor_id) AS fr
      FROM fused
    ) WHERE fr <= {_RRF_TOP} ORDER BY query_id, rank_full NULLS LAST,
                                      rank_prefix NULLS LAST, neighbor_id
    """,
    covers=["M6-similarity", "W-extended", "LLM-eval"],
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    retrieval arms — the exact full-dimension ranker and the cheap
    {_MRL_DIMS}-dim matryoshka-prefix scout — into one fused top-{_RRF_TOP}
    per query: score = Σ_arms 1/({_RRF_C} + rank).  RRF is the
    rank-only ensemble every hybrid search stack (lexical + dense,
    cheap + exact) ships because it needs no score calibration between
    arms; a candidate missed by an arm simply contributes nothing.

    Exactness: both arms rank by squared-L2 (the exact array left-fold
    — no sqrt, no cosine), ties to neighbor_id; the fused score is TWO
    fixed-order correctly-rounded divisions and one add, so it is
    bit-identical cross-engine, and the fused ordering tie-breaks by
    neighbor_id.

    Scale: ONE broadcast-queries-scan-corpus pass computes BOTH arm
    distances; both rank windows share the single query_id exchange
    (two in-partition sorts, no second scan), and the fusion is a
    null-mask over the co-ranked rows — the round-8 full-outer join of
    the two rank lists is gone entirely (a full-outer can never ride a
    broadcast hash join, so it cost a SortMergeJoin + a second
    crossJoin arm; VERDICT r8 task 2).  The prefix arm exists because
    at 100 TB you'd run IT over the full corpus and the exact arm only
    over its candidates (`matryoshka_prefix_recall` closes that loop);
    fusing both ranks hedges the scout's misses."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    e = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )

    def diff2(a: Column, b: Column) -> Column:
        d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
        return F.aggregate(
            F.zip_with(d, d, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    # both distances in one projection over one crossJoin pass; the two
    # rank windows share the query_id exchange (two local sorts).
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            diff2(F.col("q_emb"), F.col("n_emb")).alias("dist_full"),
            diff2(
                F.slice(F.col("q_emb"), 1, _MRL_DIMS),
                F.slice(F.col("n_emb"), 1, _MRL_DIMS),
            ).alias("dist_prefix"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy("dist_full", "neighbor_id")
    w_pref = Window.partitionBy("query_id").orderBy(
        "dist_prefix", "neighbor_id"
    )
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).alias("ra0"),
        F.row_number().over(w_pref).alias("rb0"),
    )
    # full-outer of the two depth-bounded arms == rows where either
    # rank clears the depth, with the other rank null-masked past it
    ra = F.when(F.col("ra0") <= _RRF_DEPTH, F.col("ra0"))
    rb = F.when(F.col("rb0") <= _RRF_DEPTH, F.col("rb0"))
    fused = ranked.filter(
        (F.col("ra0") <= _RRF_DEPTH) | (F.col("rb0") <= _RRF_DEPTH)
    ).select(
        "query_id",
        "neighbor_id",
        ra.cast("int").alias("rank_full"),
        rb.cast("int").alias("rank_prefix"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + ra), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + rb), F.lit(0.0))
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), "neighbor_id"
    )
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .filter(F.col("fr") <= _RRF_TOP)
        .select("query_id", "neighbor_id", "rank_full", "rank_prefix", "rrf_score")
        .orderBy(
            "query_id",
            F.col("rank_full").asc_nulls_last(),
            F.col("rank_prefix").asc_nulls_last(),
            "neighbor_id",
        )
    )


# Exact covariance/correlation matrix over an embedding prefix — the
# one-pass second-moment aggregate a whitening / PCA / feature-audit
# pipeline runs.  Dials prefixed per CLAUDE.md.
_COVM_DIMS = 16  # leading dims covered (full 64-d would be 2080 rows)
_COVM_PAIRS = [
    (i, j) for i in range(1, _COVM_DIMS + 1) for j in range(i, _COVM_DIMS + 1)
]


def _covm_oracle() -> str:
    s_exprs = ", ".join(
        f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE) AS DECIMAL(18,8))) AS s_{i}"
        for i in range(1, _COVM_DIMS + 1)
    )
    p_exprs = ", ".join(
        f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{j}] AS DOUBLE)"
        f" AS DECIMAL(18,8))) AS p_{i}_{j}"
        for i, j in _COVM_PAIRS
    )
    d_s = ", ".join(
        f"CAST(CAST(s_{i} AS VARCHAR) AS DOUBLE) AS s_{i}"
        for i in range(1, _COVM_DIMS + 1)
    )
    d_p = ", ".join(
        f"CAST(CAST(p_{i}_{j} AS VARCHAR) AS DOUBLE) AS p_{i}_{j}"
        for i, j in _COVM_PAIRS
    )

    def cov(i: int, j: int) -> str:
        return (
            f"(p_{i}_{j} - s_{i} * s_{j} / CAST(n AS DOUBLE))"
            f" / CAST(n AS DOUBLE)"
        )

    selects = " UNION ALL ".join(
        f"SELECT {i} AS dim_i, {j} AS dim_j, n, {cov(i, j)} AS cov,"
        f" ({cov(i, j)}) / NULLIF(sqrt({cov(i, i)}) * sqrt({cov(j, j)}), 0)"
        f" AS corr FROM d"
        for i, j in _COVM_PAIRS
    )
    return (
        f"WITH sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {s_exprs},"
        f" {p_exprs} FROM embeddings),"
        f" d AS (SELECT n, {d_s}, {d_p} FROM sums)"
        f" SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,"
        f" n, cov, corr FROM ({selects}) ORDER BY dim_i, dim_j"
    )


@query(
    "embedding_covariance_matrix",
    oracle=_covm_oracle(),
    covers=["M6-similarity", "A-extended"],
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance + correlation matrix of the leading
    {_COVM_DIMS} embedding dimensions (upper triangle, diagonal
    included) — the second-moment statistics a whitening, PCA-audit,
    or feature-drift monitor materializes.  Complements
    `embedding_top_pc_power_iteration`, which deliberately AVOIDS
    materializing this matrix for the top-PC-only question; when the
    full (sub)matrix is the deliverable, this one-pass aggregate is
    the right plan.

    Exactness: every sum (per-dim and per-pair products) goes through
    the DECIMAL(18,8) discipline (`numeric.dsum`), so the reduction is
    order-independent; cov = (Σxy − Σx·Σy/n)/n and corr = cov/(√vi·√vj)
    are fixed-order IEEE expressions (sqrt and division correctly
    rounded), mirrored token-for-token in the oracle.

    Scale: ONE map-side-combinable aggregate produces all
    {_COVM_DIMS}+{len(_COVM_PAIRS)}+1 sums in a single pass — the
    shuffle carries exactly one partial row per task regardless of
    corpus size; the pair fan-out happens AFTER reduction, on a 1-row
    frame.  d²-in-the-aggregate (not d²-per-row explode) is what keeps
    the 100 TB covariance within one scan."""
    emb = parallel_scan(spark, sf_dir, "embeddings")

    def x(i: int) -> Column:
        return F.element_at("embedding", i).cast("double")

    aggs = [F.count("*").cast("bigint").alias("n")]
    aggs += [F.sum(dec(x(i))).alias(f"s_{i}") for i in range(1, _COVM_DIMS + 1)]
    aggs += [F.sum(dec(x(i) * x(j))).alias(f"p_{i}_{j}") for i, j in _COVM_PAIRS]
    sums = emb.agg(*aggs)
    d = sums.select(
        "n",
        *[
            _dec_to_double(F.col(f"s_{i}")).alias(f"s_{i}")
            for i in range(1, _COVM_DIMS + 1)
        ],
        *[
            _dec_to_double(F.col(f"p_{i}_{j}")).alias(f"p_{i}_{j}")
            for i, j in _COVM_PAIRS
        ],
    )
    nD = F.col("n").cast("double")

    def cov(i: int, j: int) -> Column:
        return (F.col(f"p_{i}_{j}") - F.col(f"s_{i}") * F.col(f"s_{j}") / nD) / nD

    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("dim_i"),
                F.lit(j).alias("dim_j"),
                cov(i, j).alias("cov"),
                (
                    cov(i, j)
                    / F.nullif(F.sqrt(cov(i, i)) * F.sqrt(cov(j, j)), F.lit(0.0))
                ).alias("corr"),
            )
            for i, j in _COVM_PAIRS
        ]
    )
    return (
        d.select("n", F.explode(pairs).alias("pr"))
        .select(
            F.col("pr.dim_i").cast("int").alias("dim_i"),
            F.col("pr.dim_j").cast("int").alias("dim_j"),
            "n",
            F.col("pr.cov").alias("cov"),
            F.col("pr.corr").alias("corr"),
        )
        .orderBy("dim_i", "dim_j")
    )


# Mutual nearest-neighbor matching (dataset alignment): pair records
# of two corpora where each is the other's nearest neighbor — the
# high-precision alignment primitive (bitext mining, cross-snapshot
# entity alignment, dedup across sources).  Blocked by hyperplane LSH
# so no corpus-level all-pairs is ever formed.  Dials per CLAUDE.md.
_MNN_PLANES = 4  # 16 blocks at this SF; planes grow with corpus size


@query(
    "mutual_nn_matching",
    oracle=(
        "WITH buckets AS (SELECT vec_id, embedding, vec_id % 2 AS side, "
        + " || ".join(
            f"(CASE WHEN {_sql_plane_dot(p)} > 0 THEN '1' ELSE '0' END)"
            for p in range(_MNN_PLANES)
        )
        + f""" AS bucket FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             {_sql_sqdist('a.embedding', 'b.embedding')} AS dist2
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket
      WHERE a.side = 0 AND b.side = 1
    ), ranked AS (
      SELECT a_id, b_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dist2, b_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY dist2, a_id) AS rn_b
      FROM pairs
    )
    SELECT a_id, b_id, dist2 FROM ranked
    WHERE rn_a = 1 AND rn_b = 1 ORDER BY a_id
    """
    ),
    covers=["M6-similarity", "M6-dedup", "J-extended"],
)
def mutual_nn_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor matching between two corpora (even
    vec_ids vs odd vec_ids, standing in for two sources): keep the
    pairs where each side is the other's closest record — the
    high-precision alignment rule bitext mining and cross-source
    entity alignment use, because one-directional NN pairs anything
    while MUTUAL agreement is rare under mismatch.

    One-pass trick: a pair is mutual iff it is rank-1 in BOTH
    per-side windows, so both ROW_NUMBERs are computed on the single
    blocked-pairs frame and filtered together — no double-argmin
    self-join, no second pass over the pairs.

    Exactness: squared-L2 by the exact array fold; both ranks tie-
    break on the partner id; output distances are the fold's doubles.

    Scale: candidates come from a hyperplane-LSH block equi-join
    (2^{_MNN_PLANES} blocks here; plane count grows with the corpus so
    the per-block quadratic stays bounded — the `lsh_bucket_ann`
    discipline), then ONE shuffle per ranking side over the blocked
    pairs.  The corpus-level all-pairs matrix is never formed."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    bits = [
        F.when(
            dot_exact(F.col("embedding"), _plane_array(p)) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for p in range(_MNN_PLANES)
    ]
    buckets = emb.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % 2).alias("side"),
        F.concat(*bits).alias("bucket"),
    )
    a = buckets.filter(F.col("side") == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "bucket",
    )
    b = buckets.filter(F.col("side") == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "bucket",
    )
    diff = F.zip_with(
        F.col("a_emb"), F.col("b_emb"), lambda x, y: x.cast("double") - y.cast("double")
    )
    pairs = a.join(b, "bucket").select(
        "a_id",
        "b_id",
        F.aggregate(
            F.zip_with(diff, diff, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    ranked = pairs.select(
        "a_id",
        "b_id",
        "dist2",
        F.row_number()
        .over(Window.partitionBy("a_id").orderBy("dist2", "b_id"))
        .alias("rn_a"),
        F.row_number()
        .over(Window.partitionBy("b_id").orderBy("dist2", "a_id"))
        .alias("rn_b"),
    )
    return (
        ranked.filter((F.col("rn_a") == 1) & (F.col("rn_b") == 1))
        .select("a_id", "b_id", "dist2")
        .orderBy("a_id")
    )
