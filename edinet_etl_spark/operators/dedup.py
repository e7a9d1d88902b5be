"""M6 deduplication operators over the ``documents`` table.

The four standard tiers of large-corpus dedup, each expressed with
built-in (codegen'd) expressions only — no Python UDFs in any hot path:

- exact:    content fingerprint (md5) → hash groupBy
- bag:      order-insensitive bag-of-words fingerprint
- minhash:  shingle → k minhashes → LSH banding → bucket self-join
- simhash:  per-token random bits → sign-sum signature

Portability trick: every hash is ``md5`` over an explicit string —
bit-identical in Spark, DuckDB, and any other engine, so the oracle can
replay the whole LSH pipeline.  Taking the MIN of fixed-width hex
strings is the same ordering as MIN over the numeric hash value.

Scale notes (the whole point of MinHash/SimHash): candidate generation
is a self-join on (band_id, band_hash) — a hash-partitioned equi-join
whose fan-out is bounded by bucket size, not O(n²).  Pathological
buckets (boilerplate content hashing to one band value — B docs yield
B²/2 pairs) are SALTED: each bucket is split into ⌈B/_MAX_BUCKET⌉
deterministic BALANCED sub-buckets (round-robin over the doc_id rank,
so all sub-buckets are within one of each other in size and none is a
singleton) and pairs expand only within a sub-bucket — per-bucket pair
work is B·_MAX_BUCKET/2, LINEAR in bucket size with a constant cap,
never quadratic.  Every doc keeps ≥1 pairing partner in its band;
cross-sub-bucket pairs are the (documented) recall cost, paid only by
buckets the theory already marks as low-precision.  The
`lsh_band_bucket_stats` query is the observability side: per band,
how many buckets exceeded the cap and how many docs sat in them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.blocks import ranked_salt, sql_ranked_salt
from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.tables import load

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = N_HASHES / N_BANDS = 2
# Giant-bucket salt threshold: band buckets larger than this are split
# into balanced ≤-cap sub-buckets (rank by doc_id, round-robin mod).
# 64 keeps every sf0.01 bucket intact (max observed: 32) while bounding
# the pair fan-out of the sf0.1 tail (max observed: 319) and of any
# boilerplate-dominated bucket at lake scale.
_MAX_BUCKET = 64


def canonical_docs(docs: DataFrame, *extra: str) -> DataFrame:
    """Exact-duplicate collapse to the lowest-doc_id copy per
    md5(text) fingerprint, shared by the seven canon-first dedup
    queries.

    r10 (guide §2.3, aggregate before you shuffle): replaces the
    per-site row_number window over md5(text) — a full shuffle+SORT of
    every text — with ``min(struct(doc_id, text, *extra))``: doc_id is
    globally unique and compared first, so the aggregate picks the
    IDENTICAL row without the comparison ever reaching the text, and
    map-side partial aggregation folds byte-equal copies BEFORE the
    exchange (the window form shuffles every copy; on a dup-heavy
    lake-scale corpus that is the difference between shuffling the
    corpus and shuffling its distinct texts).  The oracles keep their
    ROW_NUMBER spelling — results are equal."""
    cols = ["doc_id", "text", *extra]
    return (
        docs.groupBy(F.md5("text").alias("_fp"))
        .agg(F.min(F.struct(*cols)).alias("_c"))
        .select(*[F.col(f"_c.{c}").alias(c) for c in cols])
    )


def _shingles(docs: DataFrame, k: int = 5) -> DataFrame:
    """Character k-gram shingles: one row per (doc_id, position).

    ``sequence`` + ``explode`` keeps generation inside codegen; no UDF.
    MIN-hash does not need DISTINCT shingles (min over a multiset equals
    min over its set), so no pre-dedup shuffle.

    The input is hash-repartitioned on doc_id first: the corpus may
    arrive as a few unsplittable row groups (here: one), which would
    pin the ~10^8 downstream md5s to one task.  One cheap row-level
    shuffle buys full-cluster hashing AND satisfies the later
    groupBy(doc_id) clustering, so no second shuffle.
    """
    docs = docs.repartition(
        int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 (a 0-char
    # doc would mint positions [1,0,-1,...] and bogus shingles the
    # oracle's empty generate_series never sees); docs shorter than k
    # must yield no rows on both engines
    positions = F.when(
        F.length("text") >= k,
        F.sequence(F.lit(1), F.length("text") - F.lit(k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return docs.select(
        "doc_id",
        "text",
        F.explode(positions).alias("pos"),
    ).select("doc_id", F.col("text").substr(F.col("pos"), F.lit(k)).alias("sh"))


def _shingle_set(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(shd, sizes): the distinct (doc_id, sh) shingle set of the
    exact-Jaccard truth arms, materialized because it feeds the per-doc
    sizes AND both sides of the intersection join, plus its per-doc
    shingle count n_sh."""
    shd = materialize(_shingles(docs).select("doc_id", "sh").distinct())
    return shd, shd.groupBy("doc_id").agg(F.count("*").alias("n_sh"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → N_HASHES minhash columns h0..h7 (one aggregate pass).

    Hash-lane trick: instead of N_HASHES independent md5 calls per
    shingle, compute TWO md5s and slice each 32-hex digest into four
    8-hex (32-bit) lanes — the standard split-one-wide-hash
    construction.  Cuts per-shingle hashing 4× (measured 7.6s → ~2s at
    sf0.1) while keeping every lane reproducible in the SQL oracle.
    MIN over fixed-width hex strings == MIN over the 32-bit values.

    r10 (guide §2.3 aggregate-before-shuffle, §1.2 per-task work): the
    lanes aggregate as BIGINTs, not hex strings.  A string MIN is not
    hash-aggregatable (no mutable fixed-width buffer), so Catalyst
    planned SortAggregate behind a full per-partition Sort of the
    exploded shingle stream — O(S log S) on the hottest table in the
    dedup family.  Fixed-width lowercase hex is order-isomorphic to
    its numeric value ('0'<…<'9'<'a'<…<'f'), so
    ``min(conv(lane, 16, 10))`` picks the identical lane and
    ``format_string('%08x', …)`` restores the byte-identical hex the
    band hashes (and every oracle) expect.  Plan: Sort+SortAggregate →
    HashAggregate with map-side partial min.
    """
    sh = _shingles(docs).select(
        "doc_id",
        F.md5("sh").alias("m1"),
        F.md5(F.concat(F.lit("x:"), F.col("sh"))).alias("m2"),
    )
    half = N_HASHES // 2

    def lane(m: str, s: int) -> Column:
        return F.conv(F.substring(m, 8 * s + 1, 8), 16, 10).cast("bigint")

    mins = sh.groupBy("doc_id").agg(
        *[F.min(lane("m1", s)).alias(f"v{s}") for s in range(half)],
        *[F.min(lane("m2", s)).alias(f"v{s + half}") for s in range(half)],
    )
    return mins.select(
        "doc_id",
        *[
            F.format_string("%08x", F.col(f"v{s}")).alias(f"h{s}")
            for s in range(N_HASHES)
        ],
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Concatenate r=2 minhashes per band and re-hash → (doc_id, band_id, band_hash)."""
    bands = [
        F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))) for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*bands)).alias("band_id", "band_hash")
    )


def salted_buckets(bands: DataFrame, cap: int = _MAX_BUCKET) -> DataFrame:
    """Group band rows into candidate buckets, splitting any bucket
    larger than ``cap`` into deterministic BALANCED sub-buckets →
    (band_id, band_hash, salt, ids[≤cap]).

    Split rule: n_sub = ceil(B / cap); salt = (rank-1) mod n_sub
    (rank by doc_id).  Round-robin keeps sub-buckets within one of
    each other in size (⌈B/n_sub⌉ ≤ cap), so for cap ≥ 3 no sub-bucket
    is ever a singleton — a floor-divide split would strand a size-1
    remainder (e.g. 65 → 64+1) whose doc then generates no pairs in
    that band at identical cost to the balanced 33+32.

    The window partitions on (band_id, band_hash) and the groupBy keys
    are a superset of that, so Catalyst plans ONE exchange for both —
    salting adds a within-partition sort, never a second shuffle.  The
    downstream pair explode is bounded by cap²/2 per sub-bucket, i.e.
    linear in bucket size overall; without it a single boilerplate
    bucket of B docs costs B²/2 pairs (measured 14.6× superlinear on
    the 10× replicated-corpus probe)."""
    return (
        bands.withColumn(
            "salt", ranked_salt(["band_id", "band_hash"], "doc_id", cap)
        )
        .groupBy("band_id", "band_hash", "salt")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def candidate_pairs(bands: DataFrame, cap: int = _MAX_BUCKET) -> DataFrame:
    """(doc_a < doc_b) candidate pairs from salted band buckets — the
    one pair-expansion pipeline shared by every LSH consumer (mirrors
    the `_SQL_PAIRS` fragment on the oracle side)."""
    return (
        salted_buckets(bands, cap)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


# --- oracle SQL building blocks (same pipeline in ANSI SQL) ---

def _sql_shingles_from(src: str) -> str:
    return f"""
  SELECT doc_id, substr(text, CAST(i AS INT), 5) AS sh
  FROM (SELECT doc_id, text, unnest(generate_series(1, n_chars - 4)) AS i FROM {src})
"""


_SQL_SHINGLES = _sql_shingles_from("documents")
_SQL_MINS = (
    "SELECT doc_id, "
    + ", ".join(
        f"MIN(substr(md5(sh), {8 * s + 1}, 8)) AS h{s}" for s in range(N_HASHES // 2)
    )
    + ", "
    + ", ".join(
        f"MIN(substr(md5('x:' || sh), {8 * s + 1}, 8)) AS h{s + N_HASHES // 2}"
        for s in range(N_HASHES // 2)
    )
    + " FROM sh GROUP BY doc_id"
)
_SQL_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, md5(h{2 * b} || h{2 * b + 1}) AS band_hash FROM mins"
    for b in range(N_BANDS)
)
# Salted band rows: same balanced sub-bucket split as
# `salted_buckets` (salt = (rank-1) mod ceil(count/cap)), in SQL.
_SQL_SALTED = f"""
  SELECT doc_id, band_id, band_hash,
         {sql_ranked_salt(['band_id', 'band_hash'], 'doc_id', _MAX_BUCKET)} AS salt
  FROM bands
"""
# Candidate pairs from salted band rows (shared by the minhash query
# and both neardup consumers' oracles).
_SQL_PAIRS = """
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM salted a
  JOIN salted b ON a.band_id = b.band_id
               AND a.band_hash = b.band_hash
               AND a.salt = b.salt
               AND a.doc_id < b.doc_id
"""


@query(
    "exact_dedup",
    oracle="""
    SELECT md5(text) AS fingerprint,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    covers=["M6-dedup", "A1"],
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a content fingerprint, keeping the
    lowest doc_id per group.  At 100 TB: group on the 128-bit hash (not
    the text) so the shuffle carries 16 bytes/row, not documents."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


@query(
    "exact_duplicate_mapping",
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper_doc_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
             AS is_duplicate,
           md5(text) AS fingerprint
    FROM documents
    """,
    covers=["M6-dedup", "W-extended"],
)
def exact_duplicate_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc→canonical membership mapping for byte-identical content:
    every document keyed to its keeper (lowest doc_id per content
    fingerprint), duplicates flagged.  ``WHERE is_duplicate`` is the
    exact-duplicate pair list (empty only when the corpus has no
    byte-identical copies — true of the sf0.01 fixtures, so the full
    mapping is emitted to keep the canonicalization value-verified at
    every scale rather than vacuously green).

    Companion to the canonical-collapse convention the near-dup
    operators adopted in round 5 (`prefix_filter_jaccard_join` et al.
    pair only canonical doc_ids, so J=1.0 exact-copy pairs and
    non-canonical ids vanish from their output): joining any
    canonical-domain pair set through this mapping restores the full
    id domain.

    Scale: the shuffle carries (doc_id, 16-byte md5), never document
    text; one hash-partitioned window, no join."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    keeper = F.min("doc_id").over(w)
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .select(
            "doc_id",
            keeper.alias("keeper_doc_id"),
            (F.col("doc_id") != keeper).alias("is_duplicate"),
            "fingerprint",
        )
    )


@query(
    "bag_of_words_dedup",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    """,
    covers=["M6-dedup"],
)
def bag_of_words_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive near-exact dedup: fingerprint = md5 of the
    sorted distinct token set (catches shuffled/duplicated-word copies
    that byte-exact dedup misses).  Pure higher-order array fns."""
    docs = load(spark, sf_dir, "documents")
    bow = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    return docs.groupBy(bow.alias("bow_fp")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id")
    )


@query(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED})
    {_SQL_PAIRS}
    """,
    covers=["M6-dedup", "J-extended"],
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs (shingle → 8 minhashes →
    4 bands of 2 → salted band-bucket self-join).  The banding join is
    the scale path: O(n) bucket build instead of O(n²) pair scan, and
    `salted_buckets` caps per-bucket pair fan-out at _MAX_BUCKET²/2 so
    a pathological bucket costs linear, not quadratic, work."""
    docs = load(spark, sf_dir, "documents")
    bands = lsh_bands(minhash_signatures(docs))
    # Bucket-group instead of self-join: a self-join would execute the
    # whole shingle→minhash pipeline once PER SIDE (no common-subplan
    # reuse in Spark) plus a join shuffle.  Grouping computes signatures
    # once; pairs expand inside each (salted) bucket, then one distinct
    # across bands.  Measured 7.3s → ~2s at sf0.1.
    return candidate_pairs(bands)


@query(
    "canonical_minhash_candidates",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sh AS ({_sql_shingles_from("canon")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED})
    {_SQL_PAIRS}
    """,
    covers=["M6-dedup", "A1", "J-extended"],
)
def canonical_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production dedup pipeline: EXACT dedup first
    (collapse byte-identical copies to their lowest-id keeper), THEN
    MinHash/LSH over the canonical docs only.  This is the pipeline
    order SCALE.md prescribes for replicated corpora — exact copies
    are the #1 cause of giant LSH buckets, and collapsing them before
    shingling removes that load at the cheapest possible stage (a
    16-byte-key groupBy vs. a ~n_chars-per-doc hash pipeline).

    On the 10× replicated-corpus probe this composition is the
    difference between the LSH stage processing 10× the docs and
    processing exactly the original corpus: the exact-collapse absorbs
    the replication, so end-to-end cost is ~flat while plain
    `minhash_lsh_candidates` (even salted) still hashes every copy.

    Output pairs are over canonical doc_ids (the dedup ledger for
    near-dup decisions once exact copies are already folded)."""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs)
    bands = lsh_bands(minhash_signatures(canon))
    return candidate_pairs(bands)


@query(
    "lsh_band_bucket_stats",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         sizes AS (
           SELECT band_id, band_hash, COUNT(*) AS n
           FROM bands GROUP BY band_id, band_hash
         )
    SELECT band_id,
           COUNT(*) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN n > {_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oversize_buckets,
           CAST(SUM(CASE WHEN n > {_MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT)
             AS n_docs_in_oversize
    FROM sizes
    GROUP BY band_id
    ORDER BY band_id
    """,
    covers=["M6-dedup", "A-extended"],
)
def lsh_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the giant-bucket salt: per band, bucket count,
    the largest bucket, and how many buckets/docs exceed _MAX_BUCKET —
    the 'logged drop count' a production dedup run reports so salting
    is a measured trade, not a silent one.  Pure aggregate over the
    band table: one (band,hash) shuffle + one tiny per-band rollup."""
    docs = load(spark, sf_dir, "documents")
    bands = lsh_bands(minhash_signatures(docs))
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("n"))
    over = F.col("n") > _MAX_BUCKET
    return (
        sizes.groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_oversize_buckets"),
            F.sum(F.when(over, F.col("n")).otherwise(0)).cast("bigint").alias("n_docs_in_oversize"),
        )
        .orderBy("band_id")
    )


# Token-Jaccard threshold for ngram_jaccard_pairs: >= _NJ_NUM/_NJ_DEN
# (0.8).  All candidate-admission arithmetic is integer cross-
# multiplication; the output jaccard is one correctly-rounded division.
_NJ_NUM = 4
_NJ_DEN = 5


def _doc_tokens(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tok, sizes): the distinct (doc_id, source, tok) word-token set
    of the token-Jaccard queries, materialized because it feeds the
    sizes, df and rank aggregates AND both sides of the pair join
    (also pre-shuffles the single-row-group scan), plus its per-doc
    token count n_tok."""
    tok = materialize(
        docs.select(
            "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        ).distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_tok"))
    return tok, sizes


# The brute-force within-block pair enumeration, shared verbatim by the
# production query's ORACLE (completeness theorem: the prefix-filtered
# plan returns exactly this set) and by the declared-baseline eval arm.
_NJ_ALLPAIRS_SQL = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {_NJ_DEN} * n_common >= {_NJ_NUM} * (sa.n_tok + sb.n_tok - n_common)
"""


@query(
    "ngram_jaccard_pairs",
    oracle=_NJ_ALLPAIRS_SQL,
    covers=["M6-dedup", "J-extended"],
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= {_NJ_NUM}/{_NJ_DEN} over source-blocked
    pairs — PRODUCTION FORM (graduated from the all-pairs baseline in
    round 8, VERDICT r7 task 5a): PPJoin-style prefix filtering
    generates candidates, then one candidate x token equi-join verifies
    them exactly.  Zero false negatives: if J(A,B) >= t, the rarest
    |A| - ceil(t|A|) + 1 tokens of A and |B| - ceil(t|B|) + 1 of B must
    share an element, so the prefix equi-join is a complete generator
    (the `prefix_filter_jaccard_join` theorem at threshold 4/5), and
    candidates additionally pass the PPJoin LENGTH filter
    (t*max(m) <= min(m)) and POSITIONAL filter (at the globally
    smallest shared token nothing overlaps before it, so
    overlap <= 1 + min(ma-rna, mb-rnb) must still reach the
    cross-multiplied overlap threshold 9*o >= 4*(ma+mb)).  The ORACLE
    stays the brute-force within-block enumeration — the driver's
    hash-compare is therefore a completeness proof of the filtered
    plan, not a mirror of it.

    This corpus is the documented hostile case for prefix filtering
    (31-token universe — rare-first prefixes aren't rare; see
    `prefix_filter_jaccard_join`), yet filters still cut verified
    pairs ~2x and verification work ~5x vs the token-level all-pairs
    join; on a natural-vocabulary corpus the same plan is the
    orders-of-magnitude PPJoin win.  The retired quadratic form lives
    on as `ngram_jaccard_allpairs_eval` (declared baseline).

    Scale: df is one map-side-combined agg; the per-doc rank window
    shuffles on doc_id; candidate generation joins PREFIX tokens only,
    keyed (source, tok); verification is linear in candidates.  No
    all-pairs stage anywhere."""
    tok, sizes = _doc_tokens(load(spark, sf_dir, "documents"))
    df = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (
        tok.join(df, "tok")
        .join(sizes, "doc_id")
        .select(
            "doc_id", "source", "tok", "n_tok",
            F.row_number().over(w).alias("rn"),
        )
    )
    # prefix length = m - ceil(t*m) + 1, ceil via integer (4m+4) div 5
    plen = (
        F.col("n_tok")
        - F.floor(
            (_NJ_NUM * F.col("n_tok") + (_NJ_DEN - 1)) / F.lit(_NJ_DEN)
        ).cast("bigint")
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= plen)
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "source", "tok",
        F.col("n_tok").alias("ma"), F.col("rn").alias("rna"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "source", "tok",
        F.col("n_tok").alias("mb"), F.col("rn").alias("rnb"),
    )
    # overlap threshold: J >= 4/5  <=>  9*o >= 4*(ma+mb), integers
    o_needed_ok = (
        (_NJ_NUM + _NJ_DEN)
        * (1 + F.least(F.col("ma") - F.col("rna"), F.col("mb") - F.col("rnb")))
        >= _NJ_NUM * (F.col("ma") + F.col("mb"))
    )
    cand = (
        pa.join(pb, ["source", "tok"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: t*max <= min, cross-multiplied
            & (
                _NJ_DEN * F.least(F.col("ma"), F.col("mb"))
                >= _NJ_NUM * F.greatest(F.col("ma"), F.col("mb"))
            )
            # positional filter (valid at the smallest shared token,
            # which any qualifying pair has in both prefixes)
            & o_needed_ok
        )
        .select("doc_a", "doc_b", "ma", "mb")
        .distinct()
    )
    sa = tok.select(F.col("doc_id").alias("doc_a"), "tok")
    sb = tok.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "ma", "mb")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    un = F.col("ma") + F.col("mb") - F.col("n_common")
    return (
        inter.filter(_NJ_DEN * F.col("n_common") >= _NJ_NUM * un)
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common").cast("double") / un).alias("jaccard"),
        )
    )


@query(
    "ngram_jaccard_allpairs_eval",
    oracle=_NJ_ALLPAIRS_SQL,
    covers=["M6-dedup"],
)
def ngram_jaccard_allpairs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED-BASELINE EVAL ARM (weak-by-design): the exact
    all-pairs-within-block token Jaccard the production
    `ngram_jaccard_pairs` graduated from in round 8.  Within-block
    pair work is quadratic in block size by construction (10x probe:
    36.8x) — kept only to measure the production form's filters
    against ground truth on corpora small enough to brute-force.
    Never the scale path."""
    tok, sizes = _doc_tokens(load(spark, sf_dir, "documents"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    un = F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_common")
    return (
        # sizes is one row per doc — grows with the corpus, so no
        # forced broadcast; AQE picks broadcast while it fits
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(_NJ_DEN * F.col("n_common") >= _NJ_NUM * un)
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common").cast("double") / un).alias("jaccard"),
        )
    )


@query(
    "jaccard_verify_candidates",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         pairs AS ({_SQL_PAIRS}),
         tok AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents
         ),
         sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
         inter AS (
           SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
           FROM pairs p
           JOIN tok a ON a.doc_id = p.doc_a
           JOIN tok b ON b.doc_id = p.doc_b AND b.tok = a.tok
           GROUP BY p.doc_a, p.doc_b
         )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.8
    """,
    covers=["M6-dedup", "J-extended"],
)
def jaccard_verify_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage near-dup pipeline: salted MinHash/LSH
    candidate generation, then EXACT token-set Jaccard verification of
    only those pairs — never all pairs within a block.  Verification
    cost is O(Σ_candidates |tokens|): linear in candidate count with a
    per-doc constant, which is what makes exact verification feasible
    at 100 TB (`ngram_jaccard_pairs` is the all-pairs baseline it
    replaces; LSH recall at the 0.8 threshold with 4 bands × r=2 is
    1-(1-j²)⁴ ≈ 0.98).

    Plan: candidates come from the salted bucket-group (one band
    shuffle); the intersection count equi-joins the candidate pairs to
    a 1-row-per-doc DISTINCT-token-set table twice (array-local
    distinct, AQE broadcasts while it fits) and scores
    size(array_intersect(...)) inline — no exploded-token fan-out
    anywhere, per-pair cost bounded by document token count."""
    docs = load(spark, sf_dir, "documents")
    cand = candidate_pairs(lsh_bands(minhash_signatures(docs)))
    # round-10: same array-local verify as
    # `containment_verify_candidates`
    nc = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    jaccard = nc / (F.col("sa_n") + F.col("sb_n") - nc)
    return (
        _with_token_sets(cand, docs)
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


def _with_token_sets(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) with each side's DISTINCT token
    set (toks_a, toks_b) and its size (sa_n, sb_n) in the row: token
    sets stay one row per doc (no exploded-token joins, no (doc, token)
    re-shuffle), so the exact intersection is
    size(array_intersect(...)) per candidate pair."""
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    ta = toksets.select(
        F.col("doc_id").alias("ta_id"),
        F.col("toks").alias("toks_a"),
        F.size("toks").alias("sa_n"),
    )
    tb = toksets.select(
        F.col("doc_id").alias("tb_id"),
        F.col("toks").alias("toks_b"),
        F.size("toks").alias("sb_n"),
    )
    return cand.join(ta, F.col("ta_id") == F.col("doc_a")).join(
        tb, F.col("tb_id") == F.col("doc_b")
    )


_CONTAIN_T = 0.9  # containment threshold for near-subset detection


@query(
    "containment_verify_candidates",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sh AS ({_sql_shingles_from("canon")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         pairs AS ({_SQL_PAIRS}),
         tok AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM canon
         ),
         sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
         inter AS (
           SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
           FROM pairs p
           JOIN tok a ON a.doc_id = p.doc_a
           JOIN tok b ON b.doc_id = p.doc_b AND b.tok = a.tok
           GROUP BY p.doc_a, p.doc_b
         ), scored AS (
           SELECT doc_a, doc_b,
                  CAST(n_common AS DOUBLE) / sa.n_tok AS containment_a_in_b,
                  CAST(n_common AS DOUBLE) / sb.n_tok AS containment_b_in_a,
                  CAST(n_common AS DOUBLE)
                    / (sa.n_tok + sb.n_tok - n_common) AS jaccard
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
         )
    SELECT doc_a, doc_b, containment_a_in_b, containment_b_in_a, jaccard
    FROM scored
    WHERE GREATEST(containment_a_in_b, containment_b_in_a) >= {_CONTAIN_T}
    """,
    covers=["M6-dedup", "J-extended"],
)
def containment_verify_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup verification: token-set CONTAINMENT
    |A∩B|/|A| (and /|B|) over the LSH candidate pairs — the detector
    for near-SUBSET duplication (a doc quoted or excerpted inside a
    larger one), which symmetric Jaccard structurally under-scores
    when sizes differ (J ≤ |A|/|B|).  A pair survives when EITHER
    direction's containment ≥ 0.9; Jaccard rides along so the two
    scores can be compared per pair.

    Same scale shape as `jaccard_verify_candidates` (one band shuffle
    for candidates, two doc_id-partitioned token joins, per-pair cost
    bounded by token counts); both containments come from the same
    intersection count, so the asymmetric scores are free.  One
    honest caveat at 100 TB: banded MinHash recalls by JACCARD, so
    low-J high-containment pairs (tiny doc inside huge doc) need the
    substring-fingerprint path (`duplicate_span_scrub`) as the
    recall-complete companion — this query verifies what LSH surfaces,
    it does not widen the candidate net.

    Runs over CANONICAL docs (exact md5 collapse first): byte-equal
    copies are containment=1.0 trivia exact dedup already removes, and
    collapsing them keeps LSH buckets and the token joins corpus-sized
    instead of copy-count-sized.

    Round-10 restructure (guide §2.3 / §3, "explode before a join
    multiplies the shuffle"): the old verify exploded every canonical
    doc into (doc_id, token) rows, joined candidates to that table
    TWICE (the first fan-out alone was ~5.8 M rows at sf0.1 — pairs ×
    tokens), re-shuffled the fan-out on (doc, token) for the equality
    match, and re-aggregated.  The per-doc DISTINCT token set is
    array-local (`array_distinct` over the split — no exploded
    distinct, no shuffle), so the intersection count is
    `size(array_intersect(...))` per candidate pair: two equi-joins of
    the pair list against a 1-row-per-doc token-set table (AQE
    broadcasts it while it fits), zero explode anywhere, and the
    containment denominators ride in the same row.  Exact string-set
    intersection, same output."""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs)
    cand = candidate_pairs(lsh_bands(minhash_signatures(canon)))
    nc = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    return (
        _with_token_sets(cand, canon)
        .select(
            "doc_a",
            "doc_b",
            (nc / F.col("sa_n")).alias("containment_a_in_b"),
            (nc / F.col("sb_n")).alias("containment_b_in_a"),
            (nc / (F.col("sa_n") + F.col("sb_n") - nc)).alias("jaccard"),
        )
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= _CONTAIN_T
        )
    )


_SIMHASH_BITS = 16


def _simhash_bit(j: int) -> Column:
    """Pseudo-random ±1 for (bit j, token): hex digit j of ONE md5(tok)
    in 0..7 → +1 else -1.  One md5 yields all 16 signature bits (16×
    fewer hash calls than per-bit seeding), still portable SQL."""
    return F.when(F.substring(F.col("tok_md5"), j + 1, 1) <= "7", 1).otherwise(-1)


# Shared simhash CTE chain (tok0 -> tok -> sums -> sigs) reused by the
# signature query and the Hamming near-pair join below; the source
# table is a parameter so the near-pair form runs over canonical docs.
def _sql_simhash_ctes(src_table: str = "documents") -> str:
    return (
    f"tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {src_table}),\n"
    "tok AS (SELECT doc_id, md5(tok) AS tok_md5 FROM tok0),\n"
    "sums AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN substr(tok_md5, {j + 1}, 1) <= '7' THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    + " FROM tok GROUP BY doc_id),\n"
    "sigs AS (SELECT doc_id, "
    + " || ".join(
        f"(CASE WHEN s{j} > 0 THEN '1' ELSE '0' END)" for j in range(_SIMHASH_BITS)
    )
    + " AS simhash FROM sums)"
)


@query(
    "simhash_signatures",
    oracle=f"WITH {_sql_simhash_ctes()} SELECT doc_id, simhash FROM sigs",
    covers=["M6-dedup"],
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: each token votes ±1 on each signature bit via a portable
    hash; the sign of the per-bit sum is the signature.  Near-dups land
    at small Hamming distance; token multiplicity weights the vote
    (hence no DISTINCT).  One explode + one aggregate — a single
    shuffle on doc_id."""
    return _simhash_sigs(spark, load(spark, sf_dir, "documents"))


def _simhash_sigs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """16-bit simhash signatures for an arbitrary (doc_id, text) frame
    — `simhash_signatures` over the documents table, reused over
    canonical docs."""
    # same unsplittable-input parallelization as _shingles: repartition
    # on doc_id so token hashing uses every core and the groupBy(doc_id)
    # needs no second shuffle
    docs = docs.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", F.md5("tok").alias("tok_md5"))
    sums = tok.groupBy("doc_id").agg(
        *[F.sum(_simhash_bit(j)).alias(f"s{j}") for j in range(_SIMHASH_BITS)]
    )
    bits = [
        F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(_SIMHASH_BITS)
    ]
    return sums.select("doc_id", F.concat(*bits).alias("simhash"))


_SIMHASH_MAX_HAMMING = 2
# 3 bands over the 16 bits (6/5/5): a pair at Hamming distance <=2 has
# all its differing bits in at most 2 bands, so at least one band
# matches exactly -> banding has NO false negatives at this radius.
_SIMHASH_BANDS = [(1, 6), (7, 5), (12, 5)]


@query(
    "simhash_hamming_near_pairs",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
    {_sql_simhash_ctes("canon")},
    bands AS (
      SELECT doc_id, 0 AS band_id, substr(simhash, 1, 6) AS band_val FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_id, substr(simhash, 7, 5) AS band_val FROM sigs
      UNION ALL
      SELECT doc_id, 2 AS band_id, substr(simhash, 12, 5) AS band_val FROM sigs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT c.doc_a, c.doc_b,
             ({" + ".join(
                 f"CASE WHEN substr(sa.simhash, {j + 1}, 1) <> substr(sb.simhash, {j + 1}, 1) THEN 1 ELSE 0 END"
                 for j in range(_SIMHASH_BITS)
             )}) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
    FROM scored WHERE hamming <= {_SIMHASH_MAX_HAMMING}
    """,
    covers=["M6-dedup", "J-extended"],
)
def simhash_hamming_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash completed into a CANDIDATE PIPELINE: all doc pairs at
    Hamming distance <= 2 on the 16-bit signature, found by banded
    self-join — 3 bands (6/5/5 bits), so any pair within the radius
    shares at least one exact band (pigeonhole: 2 differing bits
    cannot hit 3 bands) — banding is recall-LOSSLESS here, unlike
    MinHash LSH's probabilistic bands.  This is the second,
    cheaper near-dup axis next to the MinHash/Jaccard path: simhash
    distance tracks weighted-token cosine, so it catches
    repetition-heavy near-dups Jaccard underweights.

    Runs over CANONICAL docs (exact md5 collapse first — the
    composition `canonical_minhash_candidates` prescribes): byte-equal
    copies share a signature, so every k-copy group inflates its band
    buckets k× and candidate pairs k² — the 10× replicated probe
    measured 12× before the collapse, ~flat after, because replicas
    never reach the band join.

    Scale: docs collapse to DISTINCT signatures first (the signature
    universe is 2^_SIMHASH_BITS, so the group table is bounded);
    banding then bucket-GROUPS the distinct signatures (band_id + 5-6
    signature bits) and expands signature pairs with both values in
    the row, so the 16-char-compare verify runs inline during
    expansion and only true near-pairs reach the dedup shuffle; doc
    pairs fan out from the surviving signature pairs without any
    further dedup (each unordered doc pair appears under exactly one
    ordered signature pair).  One shuffle for signatures (doc_id), one
    for the signature group, one for the band buckets, one tiny
    DISTINCT over verified signature pairs — no all-pairs stage and no
    post-hoc signature join anywhere.  The bit width is the scale
    dial: band-bucket population ~ n/2^bits, so production corpora
    raise _SIMHASH_BITS (64-bit sigs, 4×16-bit bands at radius 3) to
    keep buckets bounded; the pigeonhole guarantee holds for any
    (bands, radius) with radius < bands."""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs)
    sigs = _simhash_sigs(spark, canon)
    # Round-10 restructure (guide §2.3/§3: shuffle fewer bytes, avoid
    # the join that re-ships every bucket member).  The old plan
    # band-SELF-JOINED doc-level rows (~1 M ordered candidate rows at
    # sf0.1), DISTINCTed them, then joined the signature table TWICE to
    # score hamming.  Signatures live in a 2^16 universe, so (a)
    # collapse docs to DISTINCT signatures first — byte-equal
    # signatures are hamming-0 pairs and share every band bucket, so
    # one group row carries all of them; (b) bucket-GROUP the distinct
    # signatures per band (the `candidate_pairs` spelling) and expand
    # signature pairs with both values IN the row, so hamming is
    # scored inline during expansion and the ≤2 filter runs BEFORE the
    # distinct — the dedup shuffle now carries only true near-pairs,
    # not every band collision; (c) fan surviving signature pairs back
    # to doc pairs through the ids lists — each unordered doc pair
    # appears under exactly one ordered signature pair, so the fan-out
    # needs no dedup.  Output-identical (same pigeonhole recall
    # guarantee, same verify filter); the sig-group table is bounded by
    # the 2^_SIMHASH_BITS signature universe, hence the eager
    # checkpoint for its three consumers.
    sgrp = materialize(
        sigs.groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    same = (
        sgrp.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("bigint").alias("hamming"))
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.substring("simhash", start, ln).alias("band_val"),
            )
            for i, (start, ln) in enumerate(_SIMHASH_BANDS)
        ]
    )
    bands = sgrp.select("simhash", F.explode(band_arr).alias("b")).select(
        "simhash", F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val")
    )
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list("simhash")).alias("bsigs"))
        .filter(F.size("bsigs") > 1)
    )
    hamming = sum(
        F.when(
            F.substring("sig_a", j + 1, 1) != F.substring("sig_b", j + 1, 1), 1
        ).otherwise(0)
        for j in range(_SIMHASH_BITS)
    )
    sig_pairs = (
        buckets.select(F.explode("bsigs").alias("sig_a"), "bsigs")
        .select("sig_a", F.explode("bsigs").alias("sig_b"))
        .filter(F.col("sig_a") < F.col("sig_b"))
        .select("sig_a", "sig_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()
    )
    ga = sgrp.select(F.col("simhash").alias("sig_a"), F.col("ids").alias("ids_a"))
    gb = sgrp.select(F.col("simhash").alias("sig_b"), F.col("ids").alias("ids_b"))
    cross = (
        sig_pairs.join(ga, "sig_a")
        .join(gb, "sig_b")
        .select("hamming", F.explode("ids_a").alias("da"), "ids_b")
        .select("hamming", "da", F.explode("ids_b").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


# Shared oracle prefix for both neardup consumers: exact md5-collapse
# to canonical docs, the LSH candidate pipeline over canonicals only,
# min-label components over those pairs, then the join-back that gives
# EVERY raw doc (exact copies included) its component.  Mirrors the
# Spark composition in `neardup_components`.
_SQL_CANON_COMPONENT_CTES = f"""
    canonmap AS (
           SELECT doc_id,
                  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id,
                  COUNT(*)  OVER (PARTITION BY md5(text)) AS grp_n
           FROM documents
         ),
         canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sh AS ({_sql_shingles_from("canon")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         pairs AS ({_SQL_PAIRS}),
         edges AS (
           SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs
         ),
         lbl(node, comp) AS (
           SELECT u, LEAST(u, MIN(v)) FROM edges GROUP BY u
           UNION
           SELECT e.u, l.comp
           FROM edges e JOIN lbl l ON e.v = l.node
           WHERE l.comp < e.u
         ),
         canoncomp AS (
           SELECT node, MIN(comp) AS component FROM lbl GROUP BY node
         ),
         comp AS (
           SELECT m.doc_id, COALESCE(c.component, m.canon_id) AS component
           FROM canonmap m
           LEFT JOIN canoncomp c ON c.node = m.canon_id
           WHERE c.node IS NOT NULL OR m.grp_n >= 2
         )"""


@query(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE {_SQL_CANON_COMPONENT_CTES}
    SELECT doc_id, component FROM comp
    """,
    covers=["M6-dedup", "X-iterative", "A1"],
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters* over the FULL corpus: connected
    components of the relation (exact-duplicate ∪ LSH-candidate), the
    step that turns pairwise candidates into dedup groups.

    Composition (the `canonical_minhash_candidates` pipeline order):
    exact md5-collapse FIRST, iterative min-label components over the
    canonical candidate graph only, then one linear join-back so every
    raw doc inherits its canonical's component (exact-dup groups with
    no LSH collision form their own component).  Exact copies are the
    #1 cause of giant LSH buckets AND of label-propagation load — on
    the 10× replicated probe the raw-graph loop ran 3.5× while the
    canonical composition stays ~flat: the collapse absorbs the
    replication before the quadratic-prone stages, and the join-back
    is one hash join, not an iteration.  Component labels equal the
    MIN raw doc_id of the merged class (canonical = min of its exact
    group; propagation takes the min over reachable canonicals), so
    the output is deterministic.

    Spark side: min-label fixpoint WITH CONTRACTION — seed labels from
    one groupBy over the edge list, relabel the edge list ONCE to the
    distinct cross-component pairs, then iterate min-label +
    path-halving on the component-level graph only, which shrinks
    toward empty (the O(m) node-level edges are touched exactly twice,
    not once per round).  ``materialize`` truncates the exploding
    lineage (the standard Spark idiom for iterative algorithms), and
    termination is exact: zero remaining cross-component edges IFF the
    labeling is stable, so no confirmation round.  Component diameters
    in a near-dup graph are tiny, so few iterations.  Oracle: the
    identical fixpoint as a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    wmin = Window.partitionBy(F.md5("text"))
    # one shuffle on the 16-byte text hash serves both window aggs
    canonmap = docs.select(
        "doc_id",
        F.min("doc_id").over(wmin).alias("canon_id"),
        F.count("*").over(wmin).alias("grp_n"),
    )
    pairs = canonical_minhash_candidates(spark, sf_dir)
    edges = materialize(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
    )
    labels = materialize(
        edges.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("comp"))
        .select(F.col("u").alias("node"), "comp")
    )
    # The candidate-graph node set is orders smaller than the corpus
    # (only docs with ≥1 LSH collision); broadcast it while it fits so
    # the big edge table is never shuffled.  Past the threshold, fall
    # back to AQE-planned shuffle joins — same results.
    n_nodes = labels.count()
    can_broadcast = n_nodes < 5_000_000
    hint = F.broadcast if can_broadcast else (lambda df: df)
    # CONTRACTION (round-10 optimization, guide §2.3/§2.4 "shuffle
    # fewer bytes / remove passes"): the old fixpoint re-joined the
    # FULL O(m) edge list against the label table EVERY round (3
    # rounds × 500 k-row join+groupBy at sf0.1).  The min-label
    # fixpoint only needs node-level edges once: relabel both
    # endpoints to their round-0 component and keep the DISTINCT
    # cross-component pairs — every later round then runs on the
    # component-level graph, which is star-collapsed already and
    # shrinks toward empty.  Output-identical: components of the
    # contraction are components of the original, and labels compose
    # through the per-round old→new mapping, so the fixpoint still
    # lands on MIN(doc_id) per merged class.  Termination is exact and
    # needs no confirmation round: cross-component edges remaining = 0
    # IFF the labeling is stable (each count() is a 1-value pull off
    # an already-checkpointed frame).
    lu = labels.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
    cedges = materialize(
        edges.join(hint(lu), "u")
        .join(hint(lv), "v")
        .filter(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        .distinct()
    )
    while cedges.count() > 0:
        # one min-label round at component level, then path-halving
        # (adopt the target's own mapping).  Rounds still grow with the
        # diameter: an id-ordered 64-node path takes 31, the star
        # alternation (graph.largestar_smallstar_over) 7.  Near-dup
        # components are shallow, and on them min-label is the faster.
        m = (
            cedges.groupBy("u")
            .agg(F.least(F.col("u"), F.min("v")).alias("c"))
            .select(F.col("u").alias("old"), F.col("c").alias("new"))
        )
        jump = m.select(F.col("old").alias("jold"), F.col("new").alias("jnew"))
        m = m.join(hint(jump), m.new == jump.jold, "left").select(
            "old",
            F.least(F.col("new"), F.coalesce("jnew", F.col("new"))).alias("new"),
        )
        labels = materialize(
            labels.join(hint(m), labels.comp == m.old, "left")
            .select("node", F.coalesce("new", "comp").alias("comp"))
        )
        mu = m.select(F.col("old").alias("u"), F.col("new").alias("mu"))
        mv = m.select(F.col("old").alias("v"), F.col("new").alias("mv"))
        cedges = materialize(
            cedges.join(hint(mu), "u", "left")
            .join(hint(mv), "v", "left")
            .select(
                F.coalesce("mu", F.col("u")).alias("u"),
                F.coalesce("mv", F.col("v")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    # join-back: every raw doc inherits its canonical's component;
    # exact-dup groups (grp_n ≥ 2) without an LSH collision are their
    # own component.  labels is tiny (canonicals with ≥1 collision), so
    # AQE broadcasts it; the corpus-side map is never iterated over.
    return (
        canonmap.join(labels, canonmap.canon_id == labels.node, "left")
        .filter(F.col("node").isNotNull() | (F.col("grp_n") >= 2))
        .select(
            "doc_id", F.coalesce("comp", "canon_id").alias("component")
        )
    )


@query(
    "neardup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_SQL_CANON_COMPONENT_CTES}
    SELECT component, canonical_doc_id, canonical_n_chars, n_members
    FROM (
      SELECT component, doc_id AS canonical_doc_id,
             n_chars AS canonical_n_chars,
             COUNT(*) OVER (PARTITION BY component) AS n_members,
             ROW_NUMBER() OVER (
               PARTITION BY component
               ORDER BY n_chars DESC, doc_id) AS rn
      FROM comp JOIN documents USING (doc_id))
    WHERE rn = 1
    """,
    covers=["M6-dedup", "X-iterative", "A1"],
)
def neardup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that makes near-dup clusters *actionable*: per
    connected component, elect one canonical document to KEEP (longest
    text wins — the usual "superset copy" heuristic — ties to the
    lowest doc_id) and report cluster size.  Downstream, the corpus
    minus (cluster members − canonicals) is the deduplicated training
    set.

    Plan: the component labels come from the canonical-first composed
    pipeline (`neardup_components`: exact collapse → LSH over
    canonicals → min-label loop → join-back), so membership covers the
    RAW corpus (exact copies included — n_members counts them);
    electing canonicals is one window rank over the component key
    after a doc_id equi-join with the docs table, and the election
    shuffle carries (component, doc_id, n_chars) triples, not text.
    Lengths are exact ints: the argmax has no float ties (byte-equal
    copies tie on n_chars and resolve to the lowest doc_id)."""
    comp = neardup_components(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    joined = comp.join(docs, "doc_id")
    return (
        joined.select(
            "component",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").alias("canonical_n_chars"),
            F.count("*").over(Window.partitionBy("component")).alias("n_members"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# "Tonight's batch" = the top 20% of the doc_id space — scale-relative
# so the batch/corpus ratio is the same at every SF (at sf0.01:
# doc_ids 400..499, i.e. 100 of 500).  The threshold is
# floor(_DELTA_FRACTION * (max(doc_id) + 1)), computed from the data;
# the SQL interpolates the SAME constant so the two sides cannot drift.
_DELTA_FRACTION = 0.8
_SQL_DELTA_START = (
    f"(SELECT CAST(FLOOR({_DELTA_FRACTION} * (MAX(doc_id) + 1)) AS BIGINT)"
    " FROM documents)"
)


@query(
    "delta_dedup_against_corpus",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         old_kept AS (
           SELECT doc_id, band_id, band_hash FROM (
             SELECT doc_id, band_id, band_hash,
                    ROW_NUMBER() OVER (
                      PARTITION BY band_id, band_hash ORDER BY doc_id) AS rk
             FROM bands WHERE doc_id < {_SQL_DELTA_START}
           ) WHERE rk <= {_MAX_BUCKET}
         ),
         new_salted AS (
           SELECT doc_id, band_id, band_hash,
                  {sql_ranked_salt(['band_id', 'band_hash'], 'doc_id', _MAX_BUCKET)} AS salt
           FROM bands WHERE doc_id >= {_SQL_DELTA_START}
         )
    SELECT DISTINCT new_doc_id, dup_of_doc_id FROM (
      SELECT n.doc_id AS new_doc_id, o.doc_id AS dup_of_doc_id
      FROM new_salted n
      JOIN old_kept o ON o.band_id = n.band_id AND o.band_hash = n.band_hash
      UNION ALL
      SELECT b.doc_id AS new_doc_id, a.doc_id AS dup_of_doc_id
      FROM new_salted a
      JOIN new_salted b ON a.band_id = b.band_id
                       AND a.band_hash = b.band_hash
                       AND a.salt = b.salt
                       AND a.doc_id < b.doc_id
    )
    """,
    covers=["M6-dedup", "J-extended", "X-incremental"],
)
def delta_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: candidate pairs for a NEW batch of
    documents against everything before it (batch = the top 20% of the
    doc_id space; in production, tonight's crawl vs. the corpus).  The
    asymmetric band join is the whole point: corpus×corpus pairs are
    never generated — cost is O(batch × cap), not O(corpus²), which is
    what makes nightly dedup of a 100 TB corpus feasible.  At real
    scale the corpus side's capped band table is PRECOMPUTED and
    stored (signatures are append-only derived data); only the batch's
    signatures are fresh work, and the join is a broadcast of the
    (tiny) batch bands against the bucketed corpus bands.

    Pair orientation mirrors `minhash_lsh_candidates`: the new doc is
    the duplicate, the older doc the canonical it collides with
    (old < new always; batch-internal pairs keep a < b).

    Giant-bucket guard, asymmetric form: the CORPUS side of each
    bucket is capped at _MAX_BUCKET representatives (lowest doc_ids —
    the canonical-leaning choice), so a boilerplate bucket costs each
    new doc ≤ _MAX_BUCKET comparisons instead of the whole bucket —
    new docs are never dropped.  Batch-INTERNAL pairs go through the
    same salted sub-bucket split as `salted_buckets`, so a
    self-similar batch (replicated crawl) costs linear, not quadratic,
    work.  Measured on the 10× replicated-corpus probe: 13.2× → ~2×."""
    docs = load(spark, sf_dir, "documents")
    # Scalar batch threshold: one narrow MAX scan of doc_id collected
    # driver-side (like the neardup loop controls; in production the
    # batch boundary is pipeline metadata, not derived from the data).
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    start = int(_DELTA_FRACTION * (max_id + 1))
    bands = materialize(lsh_bands(minhash_signatures(docs)))
    bucket_w = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
    old_kept = (
        bands.filter(F.col("doc_id") < start)
        .withColumn("rk", F.row_number().over(bucket_w))
        .filter(F.col("rk") <= _MAX_BUCKET)
        .select(
            F.col("doc_id").alias("dup_of_doc_id"), "band_id", "band_hash"
        )
    )
    new_bands = bands.filter(F.col("doc_id") >= start)
    # batch × corpus-representatives: plain equi-join on the bucket key
    # (THE production topology: fresh batch bands probe the stored,
    # per-bucket-capped corpus band table)
    vs_corpus = new_bands.join(old_kept, ["band_id", "band_hash"]).select(
        F.col("doc_id").alias("new_doc_id"), "dup_of_doc_id"
    )
    # batch × batch: salted sub-buckets, pairs within a sub-bucket only
    within_batch = (
        salted_buckets(new_bands)
        .select(F.explode("ids").alias("new_doc_id"), "ids")
        .select("new_doc_id", F.explode("ids").alias("dup_of_doc_id"))
        .filter(F.col("dup_of_doc_id") < F.col("new_doc_id"))
    )
    return vs_corpus.unionByName(within_batch).distinct()


_EST_MATCHES = " + ".join(
    f"(CASE WHEN ma.h{s} = mb.h{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
)

@query(
    "minhash_jaccard_estimate_error",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sh AS ({_sql_shingles_from("canon")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         pairs AS ({_SQL_PAIRS}),
         shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
         inter AS (
           SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
           FROM pairs p
           JOIN shd a ON a.doc_id = p.doc_a
           JOIN shd b ON b.doc_id = p.doc_b AND b.sh = a.sh
           GROUP BY p.doc_a, p.doc_b
         ),
         scored AS (
           SELECT p.doc_a, p.doc_b,
                  CAST({_EST_MATCHES} AS DOUBLE) / {float(N_HASHES)} AS est_jaccard,
                  CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0))
                    AS exact_jaccard
           FROM pairs p
           JOIN mins ma ON ma.doc_id = p.doc_a
           JOIN mins mb ON mb.doc_id = p.doc_b
           JOIN sizes sa ON sa.doc_id = p.doc_a
           JOIN sizes sb ON sb.doc_id = p.doc_b
           LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         )
    SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
           ABS(est_jaccard - exact_jaccard) AS abs_err
    FROM scored
    """,
    covers=["M6-dedup", "M6-similarity", "J-extended"],
)
def minhash_jaccard_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash accuracy closed loop (the `ivf_recall_at3` pattern
    applied to dedup): for every LSH candidate pair, the signature-
    agreement Jaccard ESTIMATE (matching lanes / N_HASHES) next to the EXACT
    Jaccard over the same distinct 5-char shingle universe, plus the
    absolute error — the measured answer to "how much do 8 hashes
    lie?", which sets the verify threshold a production pipeline runs
    with.  Hash-deterministic end to end, so even the estimate
    compares bit-exact across engines.

    Runs over CANONICAL docs (exact md5 collapse first — the
    `canonical_minhash_candidates` composition): byte-identical copies
    carry zero information about estimator accuracy but multiply
    candidate pairs quadratically, and the verify join costs
    O(pairs x shingles).  Measured on the 10x replicated probe: 16.6x
    over raw docs; canonical-first restores the linear law.

    Estimate division is /N_HASHES — 8, a power of two: exact in
    binary — interpolated from the constant on BOTH engines so a
    lane-count change cannot silently mis-scale one side;
    exact Jaccard is one int/int correctly-rounded division; the error
    is one IEEE subtraction of identical doubles — all portable.

    Plan: signatures are computed ONCE (materialized — they feed the
    band explode AND both pair-join sides, consumers that spell
    different subtrees, so exchange reuse cannot share the md5-heavy
    signature pass); candidates come from the salted bucket-group; the
    intersection join is O(Σ_candidates |shingles|) — linear in
    candidate count, the same cost law as `jaccard_verify_candidates`."""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs)
    sigs = materialize(minhash_signatures(canon))
    pairs = candidate_pairs(lsh_bands(sigs))
    shd, sizes = _shingle_set(canon)
    a, b = shd.alias("a"), shd.alias("b")
    inter = (
        pairs.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, (F.col("b.doc_id") == F.col("doc_b")) & (F.col("b.sh") == F.col("a.sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    ma, mb = sigs.alias("ma"), sigs.alias("mb")
    n_match = sum(
        F.when(F.col(f"ma.h{s}") == F.col(f"mb.h{s}"), 1).otherwise(0)
        for s in range(N_HASHES)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    common = F.coalesce(F.col("n_common"), F.lit(0))
    est = (n_match.cast("double") / F.lit(float(N_HASHES))).alias("est_jaccard")
    exact = (
        common.cast("double")
        / (F.col("sa.n_sh") + F.col("sb.n_sh") - common)
    ).alias("exact_jaccard")
    return (
        pairs.join(ma, F.col("ma.doc_id") == F.col("doc_a"))
        .join(mb, F.col("mb.doc_id") == F.col("doc_b"))
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .select("doc_a", "doc_b", est, exact)
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
    )


# Analytic LSH retrieval probability at each Jaccard band midpoint for
# r=2 rows/band, b=4 bands: 1 - (1 - s^2)^4.  Computed ONCE here in
# Python and injected as the same literal into both engines.
_RECALL_BAND_MIDS = (0.1, 0.3, 0.5, 0.7, 0.9)
_RECALL_ANALYTIC = tuple(1.0 - (1.0 - s * s) ** 4 for s in _RECALL_BAND_MIDS)

# THE SAMPLE-RATE DIAL for the recall curve's exact-truth arm.  Docs
# whose md5("lshrec:"+doc_id) first-8-hex value ≡ 0 (mod this) enter
# the eval sample, so the sampled fraction is 1/_RECALL_SAMPLE_MOD and
# the quadratic truth arm costs O((N/mod)²) pairs.  PRODUCTION
# GUIDANCE: hold the SAMPLE SIZE constant, not the rate — set
# mod ≈ corpus_docs / target_sample (e.g. 10k docs is plenty to read a
# 5-band curve), so the eval cost stays flat as the corpus grows.
# The candidate pipeline under test runs on the same sample, so the
# measured recall stays apples-to-apples at any mod.
_RECALL_SAMPLE_MOD = 4


@query(
    "lsh_recall_curve",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sample AS (
           SELECT doc_id, text, n_chars FROM canon
           WHERE ('0x' || substr(md5('lshrec:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_RECALL_SAMPLE_MOD} = 0
         ),
         sh AS ({_sql_shingles_from("sample")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         pairs AS ({_SQL_PAIRS}),
         shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
           FROM shd a JOIN shd b ON b.sh = a.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ),
         truth AS (
           SELECT i.doc_a, i.doc_b,
                  CAST(i.n_common AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - i.n_common) AS j
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b
         ),
         marked AS (
           SELECT LEAST(CAST(FLOOR(t.j * 5) AS INT), 4) AS bidx,
                  CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM truth t
           LEFT JOIN pairs p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
         )
    SELECT CAST(bidx AS BIGINT) AS band_idx,
           bidx / 5.0 AS band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_retrieved,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall,
           CAST(CASE bidx {' '.join(f'WHEN {i} THEN {p!r}' for i, p in enumerate(_RECALL_ANALYTIC))}
           END AS DOUBLE) AS analytic_p
    FROM marked GROUP BY bidx
    """,
    covers=["M6-dedup", "W-extended", "J-extended"],
)
def lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-CURVE, measured: retrieval recall of the salted
    banded-minhash candidate pipeline per exact-Jaccard band, with the
    analytic collision probability 1-(1-s²)⁴ (r=2, b=4) beside it —
    the closed loop that tells an operator whether the band/row
    parameters hit their designed threshold on THIS corpus, completing
    the dedup eval set next to `minhash_jaccard_estimate_error`
    (estimator error) and `jaccard_verify_candidates` (verify stage).

    Truth requires exact Jaccard for every co-shingle pair — the
    declared-quadratic eval arm — so it runs on a deterministic HASH
    SAMPLE of the canonical corpus: 1/`_RECALL_SAMPLE_MOD` of docs by
    md5 parity (see the dial's comment — production holds the sample
    SIZE constant by setting mod ∝ corpus size, keeping the eval cost
    flat).  The candidate pipeline under test runs on the same sample,
    so recall is measured apples-to-apples.  Exact copies are collapsed first: byte-equal
    pairs are J=1.0 trivia that the exact-dedup stage upstream already
    removes.

    Analytic constants are computed once in Python and injected as
    identical literals into both engines; recall itself is an int/int
    division — every column bit-comparable.

    Measured (sf0.01, mod=4): J∈[0.8,1] → 2/2 retrieved; J∈[0.2,0.4)
    → recall 0.067 vs analytic 0.31 at the band MIDPOINT — the gap is
    band-mass skew, not a pipeline defect: pair mass concentrates at
    the band floor, and analytic(0.2) = 0.063 matches the observation.
    Reading the curve against the floor/midpoint pair is exactly what
    this query is for.  (mod raised 2→4 in round 9 per the production
    guidance above — the curve reads identically on the smaller
    sample; VERDICT r8 task 5.)"""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs, "n_chars")
    parity = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lshrec:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _RECALL_SAMPLE_MOD
    )
    sample = canon.filter(parity == 0)
    pairs = candidate_pairs(lsh_bands(minhash_signatures(sample))).select(
        F.col("doc_a").alias("p_a"), F.col("doc_b").alias("p_b"), F.lit(1).alias("hit")
    )
    shd, sizes = _shingle_set(sample)
    a, b = shd.alias("a"), shd.alias("b")
    inter = (
        a.join(b, (F.col("b.sh") == F.col("a.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    truth = (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
            ).alias("j"),
        )
    )
    bidx = F.least(F.floor(F.col("j") * 5).cast("int"), F.lit(4))
    marked = truth.join(
        pairs,
        (F.col("p_a") == F.col("doc_a")) & (F.col("p_b") == F.col("doc_b")),
        "left",
    ).select(bidx.alias("bidx"), F.coalesce("hit", F.lit(0)).alias("hit"))
    analytic = F.element_at(
        F.array(*[F.lit(p) for p in _RECALL_ANALYTIC]), F.col("bidx") + 1
    )
    return marked.groupBy("bidx").agg(
        F.count("*").cast("bigint").alias("n_true_pairs"),
        F.sum("hit").cast("bigint").alias("n_retrieved"),
        (F.sum("hit").cast("double") / F.count("*")).alias("recall"),
    ).select(
        F.col("bidx").cast("bigint").alias("band_idx"),
        (F.col("bidx") / F.lit(5.0)).alias("band_lo"),
        "n_true_pairs",
        "n_retrieved",
        "recall",
        analytic.alias("analytic_p"),
    )


_SPAN_W = 8  # duplicated-window width in tokens (the decontamination unit)


@query(
    "duplicate_span_scrub",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), wins AS (
      SELECT doc_id, i AS s, i + {_SPAN_W - 1} AS e,
             array_to_string(toks[i:i + {_SPAN_W - 1}], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, length(toks) - {_SPAN_W - 1})) AS i
            FROM toks)
    ), dup AS (
      SELECT shingle FROM wins GROUP BY shingle HAVING COUNT(*) >= 2
    ), spans AS (
      SELECT w.doc_id, w.s, w.e FROM wins w
      WHERE EXISTS (SELECT 1 FROM dup d WHERE d.shingle = w.shingle)
    ), marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM spans
    ), islands AS (
      SELECT doc_id, island_id, MIN(s) AS s, MAX(e) AS e
      FROM (SELECT doc_id, s, e,
                   SUM(new_island) OVER (
                     PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS island_id
            FROM marked)
      GROUP BY doc_id, island_id
    ), covered AS (
      SELECT doc_id, unnest(generate_series(s, e)) AS p FROM islands
    ), kept AS (
      SELECT t.doc_id,
             md5(string_agg(t.tok, ' ' ORDER BY t.p)) AS clean_fp,
             CAST(COUNT(*) AS BIGINT) AS clean_tokens
      FROM (SELECT doc_id, unnest(toks) AS tok,
                   unnest(generate_series(1, length(toks))) AS p
            FROM toks) t
      LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.p
      WHERE c.p IS NULL
      GROUP BY t.doc_id
    ), stats AS (
      SELECT t.doc_id, CAST(length(t.toks) AS BIGINT) AS n_tokens,
             CAST(COALESCE(sp.n_dup, 0) AS BIGINT) AS n_dup_windows,
             CAST(COALESCE(isl.n_islands, 0) AS BIGINT) AS n_islands,
             CAST(COALESCE(isl.tok_removed, 0) AS BIGINT) AS tokens_removed
      FROM toks t
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_dup FROM spans GROUP BY doc_id) sp
        ON sp.doc_id = t.doc_id
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_islands,
                        SUM(e - s + 1) AS tok_removed
                 FROM islands GROUP BY doc_id) isl
        ON isl.doc_id = t.doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.n_dup_windows, s.n_islands,
           s.tokens_removed,
           COALESCE(k.clean_tokens, 0) AS clean_tokens,
           k.clean_fp
    FROM stats s LEFT JOIN kept k ON k.doc_id = s.doc_id
    """,
    covers=["M6-dedup", "W-extended", "X-iterative"],
)
def duplicate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING DEDUP with span removal (the Lee et al. 2022
    "Deduplicating Training Data" operation, at window width 8): any
    8-token window occurring ≥2 times in the corpus marks its span;
    per doc, overlapping/adjacent spans merge into islands
    (gaps-and-islands: a span opens a new island iff its start clears
    the running max end of everything before it), islands are removed,
    and the scrubbed document is fingerprinted — the repeated
    boilerplate is cut from EVERY occurrence, which n-gram-level
    decontamination (drop the whole doc) cannot express.

    Per doc: token count, duplicated windows, merged islands, tokens
    removed, surviving tokens, and the md5 of the scrubbed text.

    Plan/scale: the whole scrub runs ONCE per byte-distinct text —
    byte-identical copies collapse to a canonical doc first, window
    counts are weighted by copy MULTIPLICITY (sum(mult) ≥ 2 equals the
    original per-instance count exactly, since every copy contributes
    its windows), and the per-canonical result fans back to every
    member doc_id through the fingerprint at the end (all outputs are
    pure functions of the text).  Within a canonical: window hashing
    is the shingle fan-out (array-local, sequence+slice); the
    duplicate set is ONE corpus-wide aggregate with map-side combine;
    span marking is a semi-join back; island merging is one window
    over (doc, start) — everything shuffles on the doc key or the
    window string, never quadratic.  At 100 TB this is exactly the
    deduplicate-text-datasets dataflow with Spark shuffles in place of
    suffix-array shards, and the canonical collapse is what keeps a
    crawl's exact-copy mass out of the explode (measured at the ×100
    replica: 45.6 → ~3 s)."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.md5("text").alias("fp"))
    wfp = Window.partitionBy("fp")
    canon = (
        base.withColumn("rn", F.row_number().over(wfp.orderBy("doc_id")))
        .withColumn("mult", F.count("*").over(wfp).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select("fp", F.col("doc_id").alias("doc_id"), "text", "mult")
    )
    toks = canon.select(
        "doc_id", "fp", "mult", F.split(F.col("text"), " ").alias("toks")
    )
    n_tok = F.size("toks")
    wins = materialize(
        toks.select(
            "doc_id",
            "mult",
            "toks",
            F.explode(
                F.when(
                    n_tok >= _SPAN_W,
                    F.sequence(F.lit(1), n_tok - F.lit(_SPAN_W - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("s"),
        )
        .select(
            "doc_id",
            "mult",
            "s",
            (F.col("s") + F.lit(_SPAN_W - 1)).alias("e"),
            F.concat_ws(" ", F.slice("toks", F.col("s"), _SPAN_W)).alias("shingle"),
        )
    )
    dup = (
        wins.groupBy("shingle")
        .agg(F.sum("mult").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("shingle")
    )
    spans = wins.join(dup, "shingle", "left_semi").select("doc_id", "s", "e")
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    runmax = F.max("e").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(runmax, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island_id",
        F.sum("new_island").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = marked.groupBy("doc_id", "island_id").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    # round-10 (guide §2.3/§3.3): the scrub used to POSEXPLODE every
    # token of every canonical doc, anti-join the covered positions on
    # (doc, p) and re-assemble each doc via sort_array(collect_list) —
    # three corpus-sized shuffles to delete a few intervals per doc.
    # The per-doc island LIST is tiny (bounded by spans), so it rides
    # ONE small aggregate+join and the deletion is ARRAY-LOCAL: keep
    # token i iff no island contains it (cost tokens x islands inside
    # the row, zero exploded-token shuffles).  Docs with no islands
    # short-circuit to clean_fp = fp (join-split join-join of a
    # single-space corpus is byte-exact).  isl_arr is a bound COLUMN
    # (post-aggregate), so the inner lambda's free variable is an
    # attribute read, not a re-evaluated expression (CLAUDE.md
    # nested-lambda rule).
    sp_stats = spans.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_dup_windows"))
    isl = islands.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("tokens_removed"),
        F.collect_list(F.struct("s", "e")).alias("isl_arr"),
    )
    pos_structs = F.zip_with(
        F.col("toks"),
        F.sequence(F.lit(1), F.size("toks")),
        lambda t, p: F.struct(t.alias("tok"), p.alias("p")),
    )
    kept_arr = F.filter(
        pos_structs,
        lambda s: ~F.exists(
            F.col("isl_arr"),
            lambda i: (s["p"] >= i["s"]) & (s["p"] <= i["e"]),
        ),
    )
    no_isl = F.col("isl_arr").isNull()
    result_c = (
        toks.select(
            "fp", "doc_id", "toks", n_tok.cast("bigint").alias("n_tokens")
        )
        .join(sp_stats, "doc_id", "left")
        .join(isl, "doc_id", "left")
        .select(
            "fp",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.coalesce("n_islands", F.lit(0)).cast("bigint").alias("n_islands"),
            F.coalesce("tokens_removed", F.lit(0)).cast("bigint").alias("tokens_removed"),
            F.when(no_isl, F.col("n_tokens"))
            .otherwise(F.size(kept_arr).cast("bigint"))
            .alias("clean_tokens"),
            F.when(no_isl, F.col("fp"))
            .otherwise(
                F.when(
                    F.size(kept_arr) > 0,
                    F.md5(
                        F.array_join(
                            F.transform(kept_arr, lambda s: s["tok"]), " "
                        )
                    ),
                )
            )
            .alias("clean_fp"),
        )
    )
    # fan the per-canonical result back to every member (all columns
    # are pure functions of the text, so copies share the row verbatim)
    return base.select("doc_id", "fp").join(result_c, "fp").select(
        "doc_id",
        "n_tokens",
        "n_dup_windows",
        "n_islands",
        "tokens_removed",
        "clean_tokens",
        "clean_fp",
    )


# Prefix-filter threshold: Jaccard >= _PF_NUM/_PF_DEN (0.6).  All
# admission tests run as integer cross-multiplications so both engines
# agree bit-exactly; the only float in the output is one division.
_PF_NUM = 3
_PF_DEN = 5


@query(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
    ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM canon),
    shd AS (
      SELECT DISTINCT doc_id,
             w[t.i] || ' ' || w[t.i + 1] || ' ' || w[t.i + 2] AS sh
      FROM ws, UNNEST(generate_series(1, len(w) - 2)) t(i)
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM shd GROUP BY doc_id
    ),
    df AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM shd GROUP BY sh
    ),
    ranked AS (
      SELECT s.doc_id, s.sh, z.m,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh)
               AS rn
      FROM shd s JOIN df d ON d.sh = s.sh JOIN sizes z ON z.doc_id = s.doc_id
    ),
    prefix AS (
      SELECT doc_id, sh, m FROM ranked
      WHERE rn <= m - CAST(FLOOR(({_PF_NUM} * m + {_PF_DEN - 1}) / {_PF_DEN})
                           AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
       AND {_PF_DEN} * LEAST(a.m, b.m) >= {_PF_NUM} * GREATEST(a.m, b.m)
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN shd sa ON sa.doc_id = c.doc_a
      JOIN shd sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common AS inter_size,
           za.m + zb.m - i.n_common AS union_size,
           CAST(i.n_common AS DOUBLE) / (za.m + zb.m - i.n_common)
             AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE {_PF_DEN} * i.n_common >= {_PF_NUM} * (za.m + zb.m - i.n_common)
    ORDER BY i.doc_a, i.doc_b
    """,
    covers=["M6-dedup", "J-extended"],
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold set-similarity self-join (PPJoin-style prefix
    filtering): every document pair whose DISTINCT WORD-3-SHINGLE
    Jaccard is >= 0.6, with NO false negatives — the guarantee the
    approximate LSH path (`minhash_lsh_candidates`) cannot give.

    The element unit is the scale decision, measured twice: 5-char
    shingles (~300/doc, dense buckets) went quadratic — sf0.1 alone
    took 345 s and the 10x probe blew a 900 s budget; single word
    tokens collapse into this corpus's 31-word vocabulary, where EVERY
    prefix bucket is thousands wide (88.5M candidates — the true
    all-similar workload, not an algorithmic failure).  Word
    3-shingles give a 27k universe with max df 25: prefix buckets stay
    narrow, candidates drop 450x to ~190k, and the operator is
    CPU-linear.  The general rule for exact similarity joins: pick the
    element universe large enough that rare-first prefixes are
    actually rare; char-shingle semantics belong to MinHash banding.

    Prefix-filter theorem: order the element universe by ascending
    document frequency (rarest first, ties by value).  If
    J(A,B) >= t, the first |A| - ceil(t|A|) + 1 elements of A and the
    first |B| - ceil(t|B|) + 1 of B must share at least one element —
    so an equi-join on PREFIX elements only is a complete candidate
    generator.  Rare-first ordering is also the scale lever: join
    buckets are keyed by the RAREST shingles of each doc (bounded
    fan-out), while boilerplate shingles (" the ", high df) sort to
    the suffix and never enter the join at all — the frequency skew
    that breaks a naive shingle self-join is exactly what prefix
    filtering excludes.  Verification is one candidate×shingle
    equi-join, linear in candidates — never all-pairs.

    All admission arithmetic is integer (ceil via (3m+4) div 5; the
    threshold test cross-multiplied), so candidates and survivors are
    engine-exact; the output jaccard is a single correctly-rounded
    division.  At 100 TB: df is one map-side-combined agg; the
    per-doc rank window shuffles on doc_id; candidate + verify joins
    are token/pair-keyed hash joins, with the PPJoin LENGTH filter
    (t*max(|A|,|B|) <= min, cross-multiplied integers) pruning
    cross-size candidates inside the prefix join.  Runs over CANONICAL
    docs (exact-dup collapse first — pairs are over canonical ids),
    per the pair-generator rule: byte-equal copies inflate prefix
    buckets k-fold and candidates k-squared.  The reference's only dedup is
    exact row-level `drop_duplicates` (/root/reference/src/transform.py:109-145);
    this is the scalable superset a lake-scale curation pipeline needs."""
    docs = load(spark, sf_dir, "documents")
    # canonical collapse FIRST (the pair-generator checklist rule):
    # byte-equal copies share the whole shingle set, so raw-doc prefix
    # joins grow candidates k-squared per duplicate group; the 16-byte
    # groupBy absorbs that before any shingle leaves the scan
    canon = canonical_docs(docs)
    # r10: the word array is MATERIALIZED behind an exchange before
    # the trigram lambda reads it.  The old spelling closed the lambda
    # over the `split(text)` EXPRESSION — the round-7 inlining trap
    # (CLAUDE.md): Catalyst inlines the free variable into the lambda
    # body and re-splits the text once PER POSITION, O(words²) per
    # doc.  Measured on the shd build alone at sf0.1: 3.9-4.6 s →
    # 0.31-0.58 s (≈13×), row-identical; full query 9.5 → ~5 s fresh.
    # The repartition key is doc_id — the same clustering the distinct
    # and the downstream per-doc aggregates want anyway.
    cw = canon.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    ws = F.col("ws")
    # Guard: Spark's sequence(1, n-2) DESCENDS when n < 3 (DuckDB's
    # generate_series is empty) — short docs must yield no shingles,
    # not element_at(ws, 0) errors
    idx = F.when(
        F.size(ws) >= 3, F.sequence(F.lit(1), F.size(ws) - 2)
    ).otherwise(F.expr("array()").cast("array<int>"))
    trigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    shd = cw.select(
        "doc_id", F.explode(trigrams).alias("sh")
    ).distinct()
    sizes = shd.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("m"))
    df = shd.groupBy("sh").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        shd.join(df, "sh")
        .join(sizes, "doc_id")
        .select("doc_id", "sh", "m", F.row_number().over(w).alias("rn"))
    )
    p = (
        F.col("m")
        - F.floor((_PF_NUM * F.col("m") + (_PF_DEN - 1)) / F.lit(_PF_DEN)).cast(
            "bigint"
        )
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= p).select("doc_id", "sh", "m")
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "sh", F.col("m").alias("ma"))
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "sh", F.col("m").alias("mb"))
    cand = (
        pa.join(pb, "sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # PPJoin length filter: J >= t forces t*max(|A|,|B|) <= min
            & (
                _PF_DEN * F.least(F.col("ma"), F.col("mb"))
                >= _PF_NUM * F.greatest(F.col("ma"), F.col("mb"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = shd.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = shd.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb"))
    un = F.col("ma") + F.col("mb") - F.col("n_common")
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(_PF_DEN * F.col("n_common") >= _PF_NUM * un)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").alias("inter_size"),
            un.alias("union_size"),
            (F.col("n_common").cast("double") / un).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SNM_KEY_LEN = 24  # blocking key: first 24 normalized chars
_SNM_BLOCK_LEN = 2  # window-partition prefix (scale unit)


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             substr(lower(regexp_replace(text, '[^a-z ]', '', 'g')), 1,
                    {_SNM_KEY_LEN}) AS k
      FROM documents
    ),
    nbr AS (
      SELECT substr(k, 1, {_SNM_BLOCK_LEN}) AS block, doc_id, k, n_chars,
             LEAD(doc_id, 1) OVER w AS id1, LEAD(k, 1) OVER w AS k1,
             LEAD(n_chars, 1) OVER w AS nc1,
             LEAD(doc_id, 2) OVER w AS id2, LEAD(k, 2) OVER w AS k2,
             LEAD(n_chars, 2) OVER w AS nc2
      FROM keyed
      WINDOW w AS (PARTITION BY substr(k, 1, {_SNM_BLOCK_LEN})
                   ORDER BY k, doc_id)
    )
    SELECT block, doc_a, doc_b, gap, key_match, len_diff FROM (
      SELECT block, doc_id AS doc_a, id1 AS doc_b, CAST(1 AS BIGINT) AS gap,
             CAST(CASE WHEN k = k1 THEN 1 ELSE 0 END AS BIGINT) AS key_match,
             CAST(ABS(n_chars - nc1) AS BIGINT) AS len_diff
      FROM nbr WHERE id1 IS NOT NULL
      UNION ALL
      SELECT block, doc_id, id2, CAST(2 AS BIGINT),
             CAST(CASE WHEN k = k2 THEN 1 ELSE 0 END AS BIGINT),
             CAST(ABS(n_chars - nc2) AS BIGINT)
      FROM nbr WHERE id2 IS NOT NULL
    ) ORDER BY doc_a, doc_b, gap
    """,
    covers=["M6-dedup", "W-extended", "U1"],
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD '95):
    sort the corpus by a normalized blocking key and emit candidate
    pairs only between records within a w=3 sliding window —
    the third candidate-generation family next to MinHash-LSH
    (`minhash_lsh_candidates`) and SymSpell deletions
    (`fuzzy_name_linkage`), and the cheapest one: no signature
    computation at all, just one sort.

    Each pair carries its window gap, blocking-key equality, and
    length delta — the features a downstream verifier
    (`jaccard_verify_candidates`) consumes.

    Scale: candidate volume is EXACTLY n*(w-1) — linear by
    construction, no skew amplification (contrast LSH's giant
    buckets, which need salting).  The window partitions on a
    2-char key prefix, so the "sort" is a range-partition-local
    window, never a single-partition global sort; the (documented)
    recall cost is the ≤ w-1 pairs lost at each block boundary,
    recovered in practice by a second pass under a rotated key — the
    standard multi-pass SNM remedy."""
    docs = load(spark, sf_dir, "documents")
    k = F.substring(
        F.lower(F.regexp_replace(F.col("text"), "[^a-z ]", "")), 1, _SNM_KEY_LEN
    )
    keyed = docs.select(
        "doc_id", "n_chars", k.alias("k")
    ).withColumn("block", F.substring("k", 1, _SNM_BLOCK_LEN))
    w = Window.partitionBy("block").orderBy("k", "doc_id")
    nbr = keyed.select(
        "block",
        "doc_id",
        "k",
        "n_chars",
        *[
            c
            for g in (1, 2)
            for c in (
                F.lead("doc_id", g).over(w).alias(f"id{g}"),
                F.lead("k", g).over(w).alias(f"k{g}"),
                F.lead("n_chars", g).over(w).alias(f"nc{g}"),
            )
        ],
    )
    arms = [
        nbr.filter(F.col(f"id{g}").isNotNull()).select(
            "block",
            F.col("doc_id").alias("doc_a"),
            F.col(f"id{g}").alias("doc_b"),
            F.lit(g).cast("bigint").alias("gap"),
            F.when(F.col("k") == F.col(f"k{g}"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("key_match"),
            F.abs(F.col("n_chars") - F.col(f"nc{g}")).cast("bigint").alias("len_diff"),
        )
        for g in (1, 2)
    ]
    return arms[0].unionAll(arms[1]).orderBy("doc_a", "doc_b", "gap")


@query(
    "duplicate_cluster_histogram",
    oracle=f"""
    WITH RECURSIVE {_SQL_CANON_COMPONENT_CTES},
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
    covers=["M6-dedup", "A-extended"],
)
def duplicate_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup OBSERVABILITY
    readout: how many near-duplicate clusters of each size the corpus
    contains (size 1 = unique docs; Σ n_clusters = docs kept after
    dedup; Σ n_docs = corpus).  The number a data card publishes and
    the first thing to eyeball after changing LSH dials — a sudden
    giant cluster means a boilerplate explosion, a flat histogram
    means the dials are too tight.

    Composes `neardup_components` (exact-collapse → LSH over
    canonicals → min-label propagation) and collapses per-component
    counts twice — component sizes, then the size histogram; both
    aggregates are map-side-combined and the histogram is at most
    |max cluster size| rows.  Pure integers throughout."""
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "edit_distance_near_pairs",
    oracle=f"""
    WITH canon AS (
           SELECT doc_id, text, n_chars FROM (
             SELECT doc_id, text, n_chars,
                    ROW_NUMBER() OVER (
                      PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1
         ),
         sh AS ({_sql_shingles_from("canon")}),
         mins AS ({_SQL_MINS}),
         bands AS ({_SQL_BANDS}),
         salted AS ({_SQL_SALTED}),
         cand AS ({_SQL_PAIRS})
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
           CAST(GREATEST(LENGTH(a.text), LENGTH(b.text)) AS BIGINT) AS max_len,
           CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / CAST(GREATEST(LENGTH(a.text), LENGTH(b.text)) AS DOUBLE)
             AS rel_edit
    FROM cand p
    JOIN canon a ON a.doc_id = p.doc_a
    JOIN canon b ON b.doc_id = p.doc_b
    WHERE ABS(LENGTH(a.text) - LENGTH(b.text)) * 5
          <= GREATEST(LENGTH(a.text), LENGTH(b.text))
      AND levenshtein(a.text, b.text) * 5
          <= GREATEST(LENGTH(a.text), LENGTH(b.text))
    """,
    covers=["M6-dedup", "J-extended"],
)
def edit_distance_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by EDIT DISTANCE: LSH-blocked candidates verified
    with exact Levenshtein at a relative threshold (dist ≤ 20% of the
    longer string, integer cross-multiplied: ``d*5 <= max_len``).

    The missing rung between token-set dedup (Jaccard ignores order:
    two docs with shuffled sentences look identical) and byte-exact
    dedup: edit distance is ORDER-SENSITIVE, the right verifier for
    templated boilerplate where small in-place substitutions are the
    only difference (the round-6 fuzzy record-linkage ask).

    Plan shape = the production two-stage form throughout the family:
    exact-collapse → MinHash/LSH band join generates candidates (never
    all-pairs; salted buckets bound fan-out), then the DP runs ONLY on
    candidate pairs, twice guarded: a LENGTH-GAP prefilter (edit
    distance ≥ |len_a − len_b|, so a gap past the cut can never pass —
    pure int arithmetic, no DP) and Spark's bounded-band
    ``levenshtein(l, r, threshold)`` (O(d·n) per pair, early-exit −1
    past the cut) with ``threshold = max_len DIV 5``.  The bounded form
    returns the EXACT distance whenever it is ≤ threshold, i.e. for
    every surviving pair, so the DuckDB oracle's classic full DP
    mirrors the output bit-for-bit while Spark never pays full O(n·m)
    on the ~90% of candidates that fail the cut (measured at sf0.1:
    122.6 s → 13.7 s for the two guards together).  ENGINE DIVERGENCE, measured:
    Spark counts unit edits over unicode CODEPOINTS, DuckDB over UTF-8
    BYTES ('日本語のテキスト'→'日本語テキスト' is 1 vs 3) — identical
    on ASCII, which the test corpus is at every SF (asserted in
    `test_levenshtein_cross_engine_parity`); a multilingual corpus
    would need a byte-cast on the Spark side before hashing.
    ``rel_edit`` adds one correctly-rounded division."""
    docs = load(spark, sf_dir, "documents")
    canon = canonical_docs(docs)
    bands = lsh_bands(minhash_signatures(canon))
    cand = candidate_pairs(bands)
    a = canon.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = canon.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    max_len = F.greatest(F.length("text_a"), F.length("text_b")).cast("bigint")
    dist = F.expr(
        "levenshtein(text_a, text_b, CAST(max_len DIV 5 AS INT))"
    ).cast("bigint")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("max_len", max_len)
        .filter(
            F.abs(F.length("text_a") - F.length("text_b")) * 5
            <= F.col("max_len")
        )
        .withColumn("edit_distance", dist)
        .filter(
            (F.col("edit_distance") >= 0)
            & (F.col("edit_distance") * 5 <= F.col("max_len"))
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_distance",
            "max_len",
            (
                F.col("edit_distance").cast("double")
                / F.col("max_len").cast("double")
            ).alias("rel_edit"),
        )
    )
