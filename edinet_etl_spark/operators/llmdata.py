"""LLM training-data pipeline operators over ``documents`` — the
curation steps between a raw crawl and a training mix: deterministic
splits/samples, benchmark decontamination, and the quality-filter
funnel.  (The north-star extension family, alongside dedup.py /
similarity.py / text.py.)

Everything is hash-deterministic: sampling and splitting use md5 over
the stable doc_id, never an RNG — re-runs, retries, and engine swaps
give byte-identical cohorts, which is what makes a 100 TB data refresh
auditable.  All expressions are built-in (codegen); no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.numeric import sql_dsum, dsum
from edinet_etl_spark.tables import load, parallel_scan


@query(
    "stratified_doc_sample",
    oracle="""
    SELECT lang, doc_id, sample_rank FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 3
    """,
    covers=["LLM-sample", "W-extended", "A1"],
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: top-3 docs per language by
    hash rank.  ``ORDER BY md5(id)`` is an unbiased-but-reproducible
    shuffle — the idiom that replaces ``ORDER BY random()`` wherever a
    sample must be re-derivable (audits, incremental refreshes).  One
    window shuffle on the stratum key; WindowGroupLimit prunes each
    partition to its top rows before the sort completes."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 3)
    )


_SQL_SPLIT = """CASE WHEN substr(md5(CAST(doc_id AS STRING)),1,1) <= 'b' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS STRING)),1,1) <= 'd' THEN 'valid'
            ELSE 'test' END"""


@query(
    "train_test_split_counts",
    oracle=f"""
    SELECT {_SQL_SPLIT} AS split, lang,
           COUNT(*) AS n_docs,
           {sql_dsum('n_chars', 'total_chars', scale=0)}
    FROM documents
    GROUP BY {_SQL_SPLIT}, lang
    ORDER BY split, lang
    """,
    covers=["LLM-split", "A-extended"],
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed train/valid/test split (75/12.5/12.5 by the first
    md5 hex digit) with per-language size accounting.  Membership is a
    pure function of doc_id: adding documents never reassigns existing
    ones (stable splits under incremental ingest), and any engine can
    recompute the cohort.  Plain groupBy — one shuffle."""
    docs = load(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(digit <= "b", "train").when(digit <= "d", "valid").otherwise("test")
    )
    return (
        docs.groupBy(split.alias("split"), F.col("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            dsum(F.col("n_chars"), "total_chars", scale=0),
        )
        .orderBy("split", "lang")
    )


def _word_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, source, shingle) for every 8-word shingle — the
    decontamination/overlap unit (GPT-3/Pile convention).  Built from
    sequence+slice: pure codegen, no UDF; docs under 8 tokens yield no
    rows (both engines agree — DuckDB's generate_series is empty)."""
    toks = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", "source", toks.alias("toks"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.size("toks") >= 8,
                    F.sequence(F.lit(1), F.size("toks") - F.lit(7)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), 8)).alias("shingle"),
        )
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
    sh AS (SELECT doc_id, source, array_to_string(toks[i:i+7], ' ') AS shingle
           FROM (SELECT doc_id, source, toks,
                        unnest(generate_series(1, length(toks)-7)) AS i FROM tok))
    SELECT DISTINCT a.doc_id AS contaminated_doc_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle
    WHERE b.source = 'src0' AND a.source <> 'src0'
    """,
    covers=["LLM-decontaminate", "J2", "M6-dedup"],
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile style): flag training docs
    sharing any 8-word shingle with the held-out set (here: source
    'src0' stands in for the benchmark corpus).  Shingles explode via
    sequence+slice (codegen, no UDF); the overlap test is a left-semi
    join on the shingle — at 100 TB the benchmark side is tiny and
    broadcasts, so the training corpus is never shuffled.  Emits the
    contaminated doc ids (the pipeline would anti-join them away)."""
    docs = load(spark, sf_dir, "documents")
    with_sh = _word_shingles(docs)
    bench = with_sh.filter(F.col("source") == "src0").select("shingle")
    return (
        with_sh.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select(F.col("doc_id").alias("contaminated_doc_id"))
        .distinct()
    )


@query(
    "quality_filter_funnel",
    oracle="""
    SELECT CASE WHEN length(string_split(text,' ')) < 30 THEN 'too_short'
                WHEN CAST(length(list_distinct(string_split(text,' '))) AS DOUBLE)
                     / length(string_split(text,' ')) < 0.45 THEN 'low_diversity'
                WHEN CAST(length(replace(text,' ','')) AS DOUBLE)
                     / length(string_split(text,' ')) < 4.0 THEN 'fragmentary'
                ELSE 'kept' END AS stage,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    ORDER BY stage
    """,
    covers=["LLM-quality", "P-extended", "A-extended"],
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality-filter funnel: each document is attributed to
    its FIRST failing rule (short → low-diversity → fragmentary →
    kept), giving the per-stage drop accounting every curation run
    reports.  Single scan, single aggregate; the rule cascade is one
    CASE expression.  All ratios are int/int divisions in double —
    deterministic across engines."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    diversity = F.size(F.array_distinct(words)).cast("double") / n_words
    avg_wlen = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    stage = (
        F.when(n_words < 30, "too_short")
        .when(diversity < 0.45, "low_diversity")
        .when(avg_wlen < 4.0, "fragmentary")
        .otherwise("kept")
    )
    return (
        docs.groupBy(stage.alias("stage"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("stage")
    )


@query(
    "repetition_scores",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id,
           len(g3) AS n_3grams,
           CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
             AS dup_2gram_frac,
           CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
             AS dup_3gram_frac
    FROM (
      SELECT doc_id,
             [ws[i] || ' ' || ws[i+1]
              FOR i IN generate_series(1, len(ws)-1)] AS g2,
             [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              FOR i IN generate_series(1, len(ws)-2)] AS g3
      FROM w WHERE len(ws) >= 3)
    """,
    covers=["LLM-quality", "M6-text", "F-higher-order"],
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    duplicated word 2-grams and 3-grams per document (Rae et al. 2021's
    "repetition" quality rules — high values flag looping/boilerplate
    text that degrades training).

    Entirely per-row higher-order-function work (`transform` builds the
    n-gram arrays, `array_distinct` dedups them) — ZERO shuffles, no
    Python, embarrassingly parallel at any corpus size.  The dup
    fraction is one exact int subtraction and one correctly-rounded
    division, portable bit-for-bit."""
    return repetition_frames(load(spark, sf_dir, "documents"))


def repetition_frames(docs: DataFrame) -> DataFrame:
    """Dup-n-gram fractions over a (doc_id, text) frame — factored for
    property tests (Python set-model equivalence for ANY token list,
    `tests/test_properties.py`)."""
    grams = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(0, size(ws)-2),"
                " i -> concat_ws(' ', ws[i], ws[i+1]))"
            ).alias("g2"),
            F.expr(
                "transform(sequence(0, size(ws)-3),"
                " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
            ).alias("g3"),
        )
    )

    def dup_frac(col: str) -> F.Column:
        return (
            (F.size(col) - F.size(F.array_distinct(col))).cast("double")
            / F.size(col)
        )

    return grams.select(
        "doc_id",
        F.size("g3").cast("bigint").alias("n_3grams"),
        dup_frac("g2").alias("dup_2gram_frac"),
        dup_frac("g3").alias("dup_3gram_frac"),
    )


@query(
    "corpus_common_ngrams",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id, unnest(
        [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
              || ' ' || ws[i+4]
         FOR i IN generate_series(1, len(ws)-4)]) AS gram
      FROM w WHERE len(ws) >= 5)
    SELECT gram, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, n_docs DESC, gram
    LIMIT 20
    """,
    covers=["LLM-dedup", "M6-text", "A-extended", "L1"],
)
def corpus_common_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: the most frequent word
    5-grams in the corpus with their document frequency — the signal
    behind "remove any line whose shingle occurs in >N documents"
    (C4/RefinedWeb boilerplate rules).

    Plan: per-doc n-gram build inside codegen (`transform`), explode,
    one partial-aggregated groupBy on the gram — shuffle bytes are
    proportional to DISTINCT grams per partition, not total grams.
    Top-20 via TakeOrderedAndProject (no global sort materialization).
    At 100 TB the same plan stands; for a fixed memory budget swap the
    exact count for a count-min sketch feeding a threshold filter —
    the exact corpus-frequency pass here is the oracle-checkable
    baseline.  Ties broken (n_docs, gram) so LIMIT is deterministic."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    grams = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws)-5), i -> concat_ws(' ',"
                    " ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))"
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), "gram")
        .limit(20)
    )


# Per-source mixture caps (docs per source, by hash rank).  Cycling
# 2/5/8/11/14 over the 20 sources keeps every cap strictly inside the
# 25-docs-per-source fixture so the query is non-vacuous AND
# non-saturating at sf0.01.
_MIX_CAPS = {f"src{i}": (i % 5) * 3 + 2 for i in range(20)}


@query(
    "weighted_mixture_sample",
    oracle=f"""
    WITH caps(source, cap) AS (VALUES {", ".join(
        f"('{s}', {c})" for s, c in sorted(_MIX_CAPS.items()))}),
    ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS mix_rank
      FROM documents)
    SELECT ranked.source, doc_id, mix_rank
    FROM ranked JOIN caps ON ranked.source = caps.source
    WHERE mix_rank <= cap
    """,
    covers=["LLM-sample", "W-extended", "J3"],
)
def weighted_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: take a per-source quota of documents
    (the Pile/Dolma-style source weighting), selected by md5-hash rank
    so the mix is reproducible under re-runs, retries, and engine
    swaps — never `ORDER BY random()`.

    One window shuffle on the source key; the quota table is a literal
    broadcast dim.  WindowGroupLimit cannot prune here (the cap varies
    per source), but the rank filter drops rows before anything wide
    happens.  At 100 TB quotas are usually expressed as token budgets —
    same plan with SUM(n_tokens) running totals instead of row ranks."""
    docs = load(spark, sf_dir, "documents")
    caps = spark.createDataFrame(
        sorted(_MIX_CAPS.items()), "source: string, cap: int"
    ).withColumnRenamed("source", "cap_source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("mix_rank"))
        .join(F.broadcast(caps), F.col("source") == F.col("cap_source"))
        .filter(F.col("mix_rank") <= F.col("cap"))
        .select("source", "doc_id", "mix_rank")
    )


@query(
    "source_mix_report",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) * 100
             / CAST(SUM(SUM(n_chars)) OVER () AS DOUBLE) AS char_share_pct
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    covers=["LLM-sample", "A-extended", "W-extended"],
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "data card" mixture report: per (source, language) document
    counts, character volume, and each cell's share of total corpus
    characters — the table every training-data release publishes.

    One groupBy shuffle; the grand total is a window over the (tiny)
    aggregate result, not a second scan.  Integer char sums are exact;
    the share is two deterministic float ops on identical operands."""
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    grand = Window.partitionBy()
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        (
            F.col("total_chars").cast("double")
            * 100
            / F.sum("total_chars").over(grand).cast("double")
        ).alias("char_share_pct"),
    ).orderBy("source", "lang")


@query(
    "token_budget_pack",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM toks)
    SELECT CAST(FLOOR((cum_tokens - n_tokens) / 5000.0) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc_id
    FROM cum
    GROUP BY 1
    ORDER BY shard_id
    """,
    covers=["LLM-sample", "W-extended", "A-extended"],
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing: documents, in deterministic
    hash-shuffled order, are packed into ~5000-token training shards
    (a document starts in the shard its running total falls in) — the
    doc-granularity form of pretraining sequence packing.  Shard
    boundaries are a running SUM window; shard id = the budget
    quotient of the tokens BEFORE each doc, so every engine derives
    identical shards from identical hashes.

    The global ORDER BY window is a single-partition sort — correct
    for the oracle contract, and the stated non-goal at 100 TB: there
    you pack per (source, hash-bucket) partition instead (drop the
    global order, same expression inside each bucket), trading exact
    global boundaries for full parallelism.  All arithmetic is exact
    ints; FLOOR(x/5000.0) on values ≪ 2^53 is one correctly-rounded op."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = (
        Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.select(
        "doc_id", "n_tokens", F.sum("n_tokens").over(w).alias("cum_tokens")
    )
    shard = F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(5000.0)
    ).cast("bigint")
    return (
        cum.groupBy(shard.alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .orderBy("shard_id")
    )


@query(
    "token_budget_pack_partitioned",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM toks)
    SELECT source,
           CAST(FLOOR((cum_tokens - n_tokens) / 2000.0) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM cum
    GROUP BY source, 2
    ORDER BY source, shard_id
    """,
    covers=["LLM-sample", "W-extended", "A-extended"],
)
def token_budget_pack_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`token_budget_pack`'s scale path made concrete: packing runs PER
    SOURCE (the window partitions by the natural shard key), so the
    running sums parallelize across the cluster instead of funneling
    through one global sort — the form you run at 100 TB.  Boundaries
    are exact within each source; the trade is no cross-source shards,
    which real mixtures want anyway (shards stay homogeneous and the
    mixture ratio is enforced at the shard level)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.select(
        "doc_id", "source", "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    shard = F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / F.lit(2000.0)
    ).cast("bigint")
    return (
        cum.groupBy("source", shard.alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .orderBy("source", "shard_id")
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@query(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(s.start // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(list_slice(t, s.start + 1,
                               LEAST(s.start + {_CHUNK_SIZE}, len(t)))) AS INT)
             AS n_tokens,
           array_to_string(list_slice(t, s.start + 1,
                                      LEAST(s.start + {_CHUNK_SIZE}, len(t))), ' ')
             AS chunk_text
    FROM toks, UNNEST(generate_series(0, len(t) - 1, {_CHUNK_STRIDE})) s(start)
    """,
    covers=["LLM-chunk", "F5", "U1"],
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the step that turns curated
    documents into fixed-budget training/RAG samples (size 32, stride
    24 → 8-token overlap so no boundary context is lost).  The
    reference's closest analogue is its positional "next 5 elements
    after marker" slice (/root/reference/src/transform.py:53-67); this
    is the same slice-by-position semantics generalized to a sliding
    window over every document.

    Plan: tokenize → `sequence(0, n-1, stride)` generates each doc's
    chunk starts → ONE posexplode-free explode + array-local `slice` —
    zero shuffles, zero Python, whole-stage codegen end to end.  Chunk
    fan-out is data-proportional (Σ ceil(n_tokens/stride)), and because
    every chunk derives from its own row the operator is embarrassingly
    parallel at any scale; downstream packing (`token_budget_pack`)
    consumes exactly this shape."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start") + 1, F.lit(_CHUNK_SIZE))
    return starts.select(
        "doc_id",
        F.expr(f"CAST(start div {_CHUNK_STRIDE} AS INT)").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "source_overlap_matrix",
    oracle="""
    WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents),
    sh0 AS (SELECT source, array_to_string(toks[i:i+7], ' ') AS shingle
            FROM (SELECT source, toks,
                         unnest(generate_series(1, length(toks)-7)) AS i FROM tok)),
    sh AS (SELECT DISTINCT source, shingle FROM sh0),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared) AS jaccard
    FROM pairs
    JOIN sizes za ON za.source = source_a
    JOIN sizes zb ON zb.source = source_b
    ORDER BY source_a, source_b
    """,
    covers=["LLM-decontaminate", "M6-dedup", "A-extended"],
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    how many distinct 8-word shingles they share, and the shingle-set
    Jaccard — the dataset-level diagnostic a curation run consults
    before mixing sources (a high-overlap pair means one source is
    scraping the other, and mixture weights double-count it).

    Plan: the shingle table reduces to DISTINCT (source, shingle) —
    16-byte-ish rows, one shuffle — then a bucket-group on shingle
    collects the ≤|sources| set per shingle and explodes pairs inside
    it: fan-out is bounded by the SOURCE COUNT (a label vocabulary,
    tens), never by corpus size, so there is no shingle-level row
    self-join anywhere.  The per-source sizes are a K-row aggregate
    joined back at the end (K² output rows).  At 100 TB the only big
    shuffle is the distinct — hash-partitioned on shingle, partial
    aggregation upstream.  Jaccard is int/int in double: exact."""
    docs = load(spark, sf_dir, "documents")
    sh = _word_shingles(docs).select("source", "shingle").distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    per = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    pairs = (
        per.select(F.explode("srcs").alias("source_a"), "srcs")
        .select("source_a", F.explode("srcs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    za = sizes.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    return (
        pairs.join(za, F.col("source_a") == F.col("sa"))
        .join(zb, F.col("source_b") == F.col("sb"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "bpe_top_merges",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair
      FROM words, UNNEST(generate_series(1, length(word) - 1)) t(i)
      WHERE length(word) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    covers=["M6-curation", "A-extended", "L1/L2"],
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-tokenizer training iteration: count every adjacent
    character pair inside every word across the corpus and rank the
    top-20 merge candidates (count desc, pair asc — the pair a real
    trainer would merge next; iterating = byte-pair encoding).

    Plan: word explode → in-word pair fan-out (sequence + substring,
    array-local, zero extra shuffle) → ONE pair-keyed aggregate.
    Map-side combine collapses each task to its distinct-pair counts
    (bounded by alphabet², not corpus size), so the shuffle payload is
    constant-ish per task at any corpus scale — the same mergeable-
    summary property as the CMS sketch.  Top-20 is a TakeOrdered over
    the tiny aggregate, never a full sort of the pair table."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"), "word"
    ).select(F.expr("substring(word, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


@query(
    "corpus_curation_pipeline",
    oracle="""
    WITH train AS (
      SELECT * FROM documents WHERE source <> 'src0'
    ), q AS (
      SELECT *,
             (length(string_split(text,' ')) >= 30
              AND CAST(length(list_distinct(string_split(text,' '))) AS DOUBLE)
                  / length(string_split(text,' ')) >= 0.45
              AND CAST(length(replace(text,' ','')) AS DOUBLE)
                  / length(string_split(text,' ')) >= 4.0) AS q_ok
      FROM train
    ), qk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                AS rn
      FROM q WHERE q_ok
    ), surv AS (
      SELECT * FROM qk WHERE rn = 1
    ), bench AS (
      SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS shingle
      FROM (SELECT string_split(text,' ') AS toks,
                   unnest(generate_series(1, length(string_split(text,' '))-7))
                     AS i
            FROM documents WHERE source = 'src0')
    ), contam AS (
      SELECT DISTINCT s.doc_id
      FROM (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
            FROM (SELECT doc_id, string_split(text,' ') AS toks,
                         unnest(generate_series(1,
                                 length(string_split(text,' '))-7)) AS i
                  FROM surv)) s
      JOIN bench b ON s.shingle = b.shingle
    ), staged AS (
      SELECT source, 'a_quality_drop' AS stage, n_chars FROM q WHERE NOT q_ok
      UNION ALL
      SELECT source, 'b_dup_drop', n_chars FROM qk WHERE rn > 1
      UNION ALL
      SELECT s.source,
             CASE WHEN c.doc_id IS NOT NULL THEN 'c_contaminated'
                  ELSE 'd_kept' END,
             s.n_chars
      FROM surv s LEFT JOIN contam c ON s.doc_id = c.doc_id
    )
    SELECT source, stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM staged
    GROUP BY source, stage
    ORDER BY source, stage
    """,
    covers=["LLM-quality", "LLM-decontaminate", "M6-dedup", "A1", "U1"],
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation data card: the composed production pipeline
    quality filter -> exact dedup -> benchmark decontamination, with
    per-(source, stage) doc/char drop accounting — the single artifact
    a training-data run publishes (composes `quality_filter_funnel`,
    `exact_dedup`, and `benchmark_contamination`, whose stage semantics
    it reuses verbatim; the reference's whole pipeline is the
    single-stage 130-over-120 selection,
    /root/reference/src/transform.py:109-145).

    Stage semantics: (a) C4 quality rules attribute each failing doc to
    'a_quality_drop'; (b) among survivors, exact dedup keeps the lowest
    doc_id per md5(text) ('b_dup_drop' for the rest); (c) survivors
    sharing any 8-word shingle with the held-out 'src0' corpus are
    'c_contaminated'; the remainder is 'd_kept'.  Stage labels carry
    their pipeline position prefix so the card orders causally.

    Plan/scale: the quality stage is pure codegen (zero shuffle); dedup
    is ONE hash shuffle on md5(text) — rows carry text onward anyway
    for shingling, so keying the window directly beats the ids-only
    dedup + join-back (which would shuffle the full rows a second
    time); the benchmark side is DISTINCT-collapsed then broadcast
    (left-semi for the flag), so the training corpus is never shuffled
    for decontamination; the final card aggregate's payload is
    |sources x 4| rows.  Per-stage counts use map-side combine."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    q_ok = (
        (n_words >= 30)
        & (F.size(F.array_distinct(words)).cast("double") / n_words >= 0.45)
        & (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
                "double"
            )
            / n_words
            >= 4.0
        )
    )
    train = docs.filter(F.col("source") != "src0")
    flagged = train.withColumn("q_ok", q_ok)
    qdrop = flagged.filter(~F.col("q_ok")).select(
        "source", F.lit("a_quality_drop").alias("stage"), "n_chars"
    )
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    ranked = flagged.filter(F.col("q_ok")).withColumn(
        "rn", F.row_number().over(w)
    )
    dupdrop = ranked.filter(F.col("rn") > 1).select(
        "source", F.lit("b_dup_drop").alias("stage"), "n_chars"
    )
    surv = ranked.filter(F.col("rn") == 1)
    bench_sh = (
        _word_shingles(docs.filter(F.col("source") == "src0"))
        .select("shingle")
        .distinct()
    )
    contam_ids = (
        _word_shingles(surv.select("doc_id", "source", "text"))
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    tail = surv.join(contam_ids, "doc_id", "left").select(
        "source",
        F.when(F.col("is_contam").isNotNull(), "c_contaminated")
        .otherwise("d_kept")
        .alias("stage"),
        "n_chars",
    )
    return (
        qdrop.unionAll(dupdrop)
        .unionAll(tail)
        .groupBy("source", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "stage")
    )


# Temperature-sampling exponent is FIXED at α = 1/2 so the per-source
# weight is sqrt(n) — correctly-rounded in every engine (a general
# n^α needs libm pow, banned in compared columns).  τ is the overall
# keep fraction the mixture is normalized to.
_TEMP_TAU = 0.5


def _temperature_probs(docs: DataFrame) -> DataFrame:
    """Per-source keep probability (source, n_docs, p_sample) of
    temperature sampling: min(1, τ·N·√n / (Σ√n · n)), a |sources|-row
    table built from one map-side-combined aggregate and a one-row
    broadcast of the corpus-global (total, Σ√n) pair."""
    stats = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = stats.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        dsum(F.sqrt(F.col("n_docs").cast("double")), "sum_w"),
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.lit(_TEMP_TAU)
            * F.col("total_docs").cast("double")
            * F.sqrt(F.col("n_docs").cast("double"))
            / (F.col("sum_w") * F.col("n_docs").cast("double")),
        ).alias("p_sample"),
    )


@query(
    "source_temperature_sampling",
    oracle=f"""
    WITH stats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS sum_w
      FROM stats
    ), probs AS (
      SELECT source, n_docs,
             LEAST(1.0, {_TEMP_TAU} * total_docs * sqrt(n_docs)
                        / (sum_w * n_docs)) AS p_sample
      FROM stats, tot
    ), hashed AS (
      SELECT source, n_chars,
             ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT h.source, p.n_docs, p.p_sample,
           CAST(COUNT(*) FILTER (WHERE h.u < p.p_sample) AS BIGINT) AS n_sampled,
           CAST(CAST(SUM(CASE WHEN h.u < p.p_sample
                              THEN CAST(n_chars AS DECIMAL(18,0)) END)
                     AS VARCHAR) AS DOUBLE) AS sampled_chars
    FROM hashed h JOIN probs p ON h.source = p.source
    GROUP BY h.source, p.n_docs, p.p_sample
    """,
    covers=["LLM-sample", "A-extended", "J1"],
)
def source_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (α = 0.5): each source's keep
    probability is ∝ n_s^(α-1), flattening the source distribution the
    way multilingual / multi-corpus training mixes do (GPT-3's
    "sampling proportional to size^α" convention) — big sources are
    down-sampled, small sources kept whole (p capped at 1), with the
    overall keep fraction normalized to τ = 0.5.

    Membership is a pure hash function of doc_id against the source's
    probability (never an RNG): re-runs, retries, engine swaps, and
    incremental refreshes give byte-identical cohorts.  Report: per
    source, the planned probability and the realized sample size/chars.

    Plan/scale: per-source counts are one map-side-combined aggregate;
    the probability table is |sources| rows (a fixed vocabulary) —
    broadcast back to the corpus scan, so the sampling pass is ONE scan
    with zero extra shuffle of document rows.  The corpus-global
    (total, Σ√n) pair is a one-row broadcast.  At 100 TB nothing here
    grows but the linear scan."""
    docs = load(spark, sf_dir, "documents")
    probs = _temperature_probs(docs)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    kept = F.col("u") < F.col("p_sample")
    return (
        docs.select("source", "n_chars", u.alias("u"))
        .join(F.broadcast(probs), "source")
        .groupBy("source", "n_docs", "p_sample")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
            F.sum(F.when(kept, F.col("n_chars").cast("decimal(18,0)")))
            .cast("string")
            .cast("double")
            .alias("sampled_chars"),
        )
    )


_N_SHARDS = 64


@query(
    "training_shard_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_N_SHARDS} AS shard,
             md5('order:' || CAST(doc_id AS VARCHAR)) AS h_order,
             doc_id, n_chars
      FROM documents
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dsum('n_chars', 'total_chars', scale=0)},
           substr(md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                 ORDER BY h_order, doc_id)), 1, 16)
             AS shard_fingerprint
    FROM assigned GROUP BY shard
    """,
    covers=["LLM-shard", "A-extended"],
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global training-data shuffle WITHOUT a global sort: every doc
    hash-assigns to one of 64 shards, and its position within
    the shard is a SECOND independent hash — together a uniform random
    permutation of the corpus, materialized as one hash-partition
    shuffle + per-shard sort instead of a cluster-wide total order
    (the orderBy a naive "shuffle the dataset" spells at 100 TB, with
    its range-sampling pass and stragglers).  Reshuffling between
    epochs is a seed change ('order:'→'order2:'), touching nothing but
    the sort key.

    Per shard the query emits count, exact char total, and a 16-hex
    fingerprint of the doc order (md5 over the ordered id list) — the
    artifact two independent runs compare to prove they'd feed the
    trainer byte-identical shards.  The fingerprint aggregation orders
    by (h_order, doc_id): ties on the 32-hex order hash are impossible
    in practice but the total order makes determinism unconditional.

    Plan: one shuffle on shard (64 groups); the in-group sort is
    sort_array over the collected (h_order, doc_id) structs — at
    production scale the same layout is `repartition(N, shard)` +
    `sortWithinPartitions(h_order)` streamed straight to shard files,
    no collect at all."""
    docs = load(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), sid)), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(_N_SHARDS),
    )
    h_order = F.md5(F.concat(F.lit("order:"), sid))
    assigned = docs.select(
        shard.alias("shard"),
        h_order.alias("h_order"),
        "doc_id",
        "n_chars",
    )
    ordered_ids = F.transform(
        F.sort_array(F.collect_list(F.struct("h_order", "doc_id"))),
        lambda s: s["doc_id"].cast("string"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dsum(F.col("n_chars"), "total_chars", scale=0),
        F.substring(F.md5(F.array_join(ordered_ids, ",")), 1, 16).alias(
            "shard_fingerprint"
        ),
    )


_BPE_ROUNDS = 4
# Symbol-stream encoding: each word becomes '·s1··s2··…··sk·' (every
# symbol wrapped in '·', '··' between symbols).  Merging pair (a,b) is
# then ONE literal string replace of '·a··b·' with '·ab·' — and both
# engines' replace() scans left-to-right non-overlapping, which is
# exactly BPE's greedy leftmost merge order ('aaa' under (a,a) merges
# positions 1-2, leaves position 3).  '·' is a reserved delimiter the
# fixture's ASCII words can't contain (a production run would reserve
# a non-text byte); words containing it are excluded defensively.


def _bpe_train_ctes() -> str:
    """The unrolled-round BPE CTE chain (words → w0 → p/pick/w/tot per
    round), shared by the train query's oracle and the per-source
    apply query's oracle."""
    parts = [
        r"""
    WITH words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 1 AND word NOT LIKE '%·%'
      GROUP BY word
    ), w0 AS (
      SELECT n, '·' || substr(regexp_replace(word, '(.)', '\1··', 'g'),
                              1, 3 * length(word) - 2) || '·' AS sym
      FROM words
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"w{r - 1}"
        parts.append(
            f""", p{r} AS (
      SELECT arr[i] AS a, arr[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
      FROM (
        SELECT n, arr, unnest(generate_series(1, length(arr) - 1)) AS i
        FROM (SELECT n, string_split(substr(sym, 2, length(sym) - 2), '··') AS arr
              FROM {prev})
        WHERE length(arr) >= 2
      )
      GROUP BY arr[i], arr[i + 1]
    ), pick{r} AS (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ), w{r} AS (
      SELECT n, replace(sym,
                        (SELECT '·' || a || '··' || b || '·' FROM pick{r}),
                        (SELECT '·' || a || b || '·' FROM pick{r})) AS sym
      FROM {prev}
    ), tot{r} AS (
      SELECT CAST(SUM(n * length(string_split(substr(sym, 2, length(sym) - 2),
                                              '··'))) AS BIGINT)
               AS total_tokens_after
      FROM w{r}
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle() -> str:
    """Unrolled-round BPE oracle (the kcore/pagerank fixed-iteration
    construction): each round re-counts weighted adjacent-symbol pairs
    over the CURRENT segmentation, picks the (count DESC, a, b) argmax,
    and rewrites the vocabulary by literal replace."""
    selects = " UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round, a AS sym_a, b AS sym_b,
               cnt AS pair_count,
               (SELECT total_tokens_after FROM tot{r}) AS total_tokens_after
        FROM pick{r}"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return _bpe_train_ctes() + "\n    " + selects


def _bpe_apply_oracle() -> str:
    """Per-source application of the trained merges: the same nested
    literal replaces w4 uses, over per-(source, word) counts."""
    nested = "sym"
    for r in range(1, _BPE_ROUNDS + 1):
        nested = (
            f"replace({nested}, (SELECT '·' || a || '··' || b || '·' FROM pick{r}),"
            f" (SELECT '·' || a || b || '·' FROM pick{r}))"
        )
    return (
        _bpe_train_ctes()
        + f"""
    , sw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) >= 1 AND word NOT LIKE '%·%'
      GROUP BY source, word
    ), sw0 AS (
      SELECT source, n,
             '·' || substr(regexp_replace(word, '(.)', '\\1··', 'g'),
                           1, 3 * length(word) - 2) || '·' AS sym
      FROM sw
    ), sw4 AS (
      SELECT source, n, {nested} AS sym FROM sw0
    )
    SELECT source,
           CAST(SUM(n * (length(replace(substr(sym, 2, length(sym) - 2), '··', '')))) AS BIGINT)
             AS n_chars,
           CAST(SUM(n * length(string_split(substr(sym, 2, length(sym) - 2), '··')))
                AS BIGINT) AS n_tokens,
           CAST(SUM(n * length(string_split(substr(sym, 2, length(sym) - 2), '··')))
                AS DOUBLE)
             / SUM(n * (length(replace(substr(sym, 2, length(sym) - 2), '··', ''))))
             AS tokens_per_char
    FROM sw4 GROUP BY source ORDER BY source"""
    )


@query(
    "bpe_train_steps",
    oracle=_bpe_train_oracle(),
    covers=["M6-curation", "X-iterative", "A-extended"],
)
def bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iterative BPE tokenizer training (the other half of
    `bpe_top_merges`, which ranks only the first round's candidates):
    four full rounds of count-pairs → pick argmax → RE-SEGMENT the
    vocabulary, so each round's counts reflect every earlier merge —
    the fixed point a single-pass count can't see.  Output: per round,
    the merged pair, its weighted count, and the corpus token total
    after the merge (the compression curve a tokenizer card reports).

    Scale: this is how production BPE trainers stay tractable — all
    iteration happens on the DISTINCT-WORD vocabulary weighted by
    count (Zipf: vocab ≪ corpus; the corpus is scanned once to build
    word counts), so each round is one aggregate over vocab-sized data
    plus one argmax.  The merge apply is a single literal replace on
    the '·'-delimited symbol stream — left-to-right non-overlapping in
    both engines, i.e. BPE's greedy order — pure codegen, no UDF.  The
    per-round argmax collect is scalar loop control (the sanctioned
    idiom); vocabulary lineage is checkpoint-truncated each round.

    Oracle: the identical unrolled fixed iteration as chained CTEs."""
    docs = load(spark, sf_dir, "documents")
    rows = _bpe_learn_merges(spark, docs)
    return spark.createDataFrame(
        rows,
        "round bigint, sym_a string, sym_b string, pair_count bigint, "
        "total_tokens_after bigint",
    )


def _bpe_learn_merges(spark: SparkSession, docs: DataFrame) -> list[tuple]:
    """The BPE training loop (body of `bpe_train_steps`, reusable by
    the per-source apply query): returns one (round, a, b, count,
    total_tokens_after) tuple per round.

    r10 (guide §1.2 remove passes): ONE Spark job per round instead of
    three.  A word with k symbols contributes k-1 pair rows each
    carrying its count n, so Σ_pairs cnt = Σ_words n·(k-1) and the
    round-r token total Σ n·k = Σ_pairs cnt + Σ_words n — i.e. round
    r+1's pair aggregate already CONTAINS round r's total, and only
    the last round needs its own token-count pass.  The per-round
    argmax rides the same aggregate as min(struct(-cnt, a, b))
    (identical to ORDER BY cnt DESC, a, b LIMIT 1 — struct comparison
    is field-lexicographic).  The vocabulary is checkpointed ONCE;
    each round's ≤ _BPE_ROUNDS literal replaces chain lazily on top
    (vocab-sized string work, cheaper than an eager checkpoint job per
    round)."""
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (~F.col("word").contains("·")))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    sym0 = F.concat(
        F.lit("·"),
        F.expr(
            "substring(regexp_replace(word, '(.)', '$1··'), 1, 3 * length(word) - 2)"
        ),
        F.lit("·"),
    )
    vocab0 = materialize(words.select("n", sym0.alias("sym")))
    arr = F.split(F.expr("substring(sym, 2, length(sym) - 2)"), "··")
    vocab = vocab0
    merges: list[tuple] = []  # (a, b, cnt) per round
    pair_sums: list[int] = []  # Σ cnt at round r == token total AFTER round r-1
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            vocab.select("n", arr.alias("arr"))
            .filter(F.size("arr") >= 2)
            .select(
                "n",
                F.explode(F.sequence(F.lit(1), F.size("arr") - 1)).alias("i"),
                "arr",
            )
            .select(
                "n",
                F.element_at("arr", F.col("i")).alias("a"),
                F.element_at("arr", F.col("i") + 1).alias("b"),
            )
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("neg"), "a", "b")).alias("m"),
                F.sum("cnt").cast("bigint").alias("pair_sum"),
            )
            .select("m.a", "m.b", (-F.col("m.neg")).cast("bigint").alias("cnt"),
                    "pair_sum")
            .collect()[0]
        )
        if top["a"] is None:
            # Degenerate corpus: no pair left to merge this round.  The
            # global aggregate over an empty pair set yields one
            # all-null row; without this guard the merge loop would
            # silently build a '·None··None·' replace literal (old
            # pre-fold behavior raised IndexError here).  Fail loud.
            raise ValueError(
                f"_bpe_learn_merges: no symbol pairs left at round {r} "
                f"(corpus exhausted before _BPE_ROUNDS={_BPE_ROUNDS})"
            )
        merges.append((top["a"], top["b"], top["cnt"]))
        pair_sums.append(top["pair_sum"])
        vocab = vocab.select(
            "n",
            F.replace(
                F.col("sym"),
                F.lit(f"·{top['a']}··{top['b']}·"),
                F.lit(f"·{top['a']}{top['b']}·"),
            ).alias("sym"),
        )
    final = vocab.agg(
        F.sum(F.col("n") * F.size(arr)).cast("bigint").alias("t"),
        F.sum("n").cast("bigint").alias("n_occ"),
    ).collect()[0]
    totals = [pair_sums[r] + final["n_occ"] for r in range(1, _BPE_ROUNDS)] + [
        final["t"]
    ]
    return [
        (r + 1, merges[r][0], merges[r][1], merges[r][2], totals[r])
        for r in range(_BPE_ROUNDS)
    ]


@query(
    "bpe_apply_per_source",
    oracle=_bpe_apply_oracle(),
    covers=["M6-curation", "F5-F9", "A-extended"],
)
def bpe_apply_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ENCODE side: train the 4 BPE merges on the whole
    corpus (same loop as `bpe_train_steps`), then APPLY them per
    source and report each source's chars, encoded token count, and
    tokens-per-char — the fertility readout that tells a tokenizer
    team which sources fragment worst under the shared vocabulary
    (the per-source complement of the corpus-level compression curve).

    Encoding is the training chain's own representation: nested
    literal replaces on the '·'-delimited symbol stream, applied in
    merge order — greedy left-to-right and identical in both engines;
    the oracle nests the same four replaces.

    Scale: training iterates on the weighted distinct-word vocabulary
    (Zipf-bounded); encoding touches per-(source, word) counts, again
    vocabulary-sized, never the raw corpus; the final readout is a
    |sources|-row aggregate.  All pure codegen string work, no UDF."""
    docs = load(spark, sf_dir, "documents")
    merges = [(r[1], r[2]) for r in _bpe_learn_merges(spark, docs)]
    sw = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter((F.length("word") >= 1) & (~F.col("word").contains("·")))
        .groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    sym = F.concat(
        F.lit("·"),
        F.expr(
            "substring(regexp_replace(word, '(.)', '$1··'), 1, 3 * length(word) - 2)"
        ),
        F.lit("·"),
    )
    for a, b in merges:
        sym = F.replace(sym, F.lit(f"·{a}··{b}·"), F.lit(f"·{a}{b}·"))
    inner = F.expr("substring(sym, 2, length(sym) - 2)")
    enc = sw.select("source", "n", sym.alias("sym")).select(
        "source",
        "n",
        F.length(F.replace(inner, F.lit("··"), F.lit(""))).alias("w_chars"),
        F.size(F.split(inner, "··")).alias("w_tokens"),
    )
    return (
        enc.groupBy("source")
        .agg(
            F.sum(F.col("n") * F.col("w_chars")).cast("bigint").alias("n_chars"),
            F.sum(F.col("n") * F.col("w_tokens")).cast("bigint").alias("n_tokens"),
        )
        .select(
            "source",
            "n_chars",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_chars")).alias(
                "tokens_per_char"
            ),
        )
        .orderBy("source")
    )


_MIX_SHARDS = 16


@query(
    "training_mix_manifest",
    oracle=f"""
    WITH stats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS sum_w
      FROM stats
    ), probs AS (
      SELECT source,
             LEAST(1.0, {_TEMP_TAU} * total_docs * sqrt(n_docs)
                        / (sum_w * n_docs)) AS p_sample
      FROM stats, tot
    ), sampled AS (
      SELECT d.doc_id, d.n_chars
      FROM documents d JOIN probs p ON d.source = p.source
      WHERE ('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < p.p_sample
    ), assigned AS (
      SELECT {_SQL_SPLIT} AS split,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_MIX_SHARDS} AS shard,
             md5('order:' || CAST(doc_id AS VARCHAR)) AS h_order,
             doc_id, n_chars
      FROM sampled
    )
    SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dsum('n_chars', 'total_chars', scale=0)},
           substr(md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                 ORDER BY h_order, doc_id)), 1, 16)
             AS shard_fingerprint
    FROM assigned GROUP BY split, shard
    """,
    covers=["LLM-sample", "LLM-split", "LLM-shard", "A-extended"],
)
def training_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-mix manifest — the artifact a data card
    publishes and a trainer consumes: α=0.5 temperature sampling over
    sources (`source_temperature_sampling`), stable hash train/valid/
    test split (`train_test_split_counts`), hash shard assignment with
    independent intra-shard order (`training_shard_assignment`), all
    chained, emitting per (split, shard) the doc count, exact char
    total, and the 16-hex order fingerprint.  Two runs of this query —
    any engine, any cluster, any partitioning — produce byte-identical
    manifests, which is the reproducibility contract that lets a 100 TB
    refresh ship without re-reading what it shipped last time.

    Plan: every stage is a pure hash function of doc_id, so the chain
    is ONE corpus scan (probability table broadcast back) + ONE shuffle
    on (split, shard) — composition adds selectivity, not passes."""
    docs = load(spark, sf_dir, "documents")
    probs = _temperature_probs(docs)
    sid = F.col("doc_id").cast("string")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("temp:"), sid)), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    sampled = (
        docs.join(F.broadcast(probs), "source")
        .filter(u < F.col("p_sample"))
        .select("doc_id", "n_chars")
    )
    digit = F.substring(F.md5(sid), 1, 1)
    split = (
        F.when(digit <= "b", "train").when(digit <= "d", "valid").otherwise("test")
    )
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), sid)), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(_MIX_SHARDS),
    )
    h_order = F.md5(F.concat(F.lit("order:"), sid))
    assigned = sampled.select(
        split.alias("split"),
        shard.alias("shard"),
        h_order.alias("h_order"),
        "doc_id",
        "n_chars",
    )
    ordered_ids = F.transform(
        F.sort_array(F.collect_list(F.struct("h_order", "doc_id"))),
        lambda s: s["doc_id"].cast("string"),
    )
    return assigned.groupBy("split", "shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dsum(F.col("n_chars"), "total_chars", scale=0),
        F.substring(F.md5(F.array_join(ordered_ids, ",")), 1, 16).alias(
            "shard_fingerprint"
        ),
    )


_LEN_BIN = 200  # n_chars bin width for the length-rebalance sampler


@query(
    "length_rebalance_sample",
    oracle=f"""
    WITH binned AS (
      SELECT doc_id, n_chars,
             n_chars // {_LEN_BIN} AS len_bin,
             ('0x' || substr(md5('lenbal:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    ), bins AS (
      SELECT len_bin, CAST(COUNT(*) AS BIGINT) AS n_docs FROM binned
      GROUP BY len_bin
    ), floor_bin AS (
      SELECT MIN(n_docs) AS c_min FROM bins
    )
    SELECT b.len_bin, bn.n_docs,
           CAST(f.c_min AS DOUBLE) / bn.n_docs AS p_keep,
           CAST(COUNT(*) FILTER (
             WHERE b.u < CAST(f.c_min AS DOUBLE) / bn.n_docs) AS BIGINT)
             AS n_kept
    FROM binned b
    JOIN bins bn ON bn.len_bin = b.len_bin, floor_bin f
    GROUP BY b.len_bin, bn.n_docs, f.c_min
    """,
    covers=["LLM-sample", "A-extended"],
)
def length_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching rejection sampling: flatten the corpus's
    document-length histogram by downsampling every length bin to the
    rarest bin's mass — keep probability c_min/c_bin, an EXACT integer
    ratio, membership a pure hash of doc_id.  The de-biasing step a
    curation run applies when a scraper change skews lengths (the same
    machinery rebalances any categorical: source, language, domain).

    Report: per bin, the population, the planned probability, and the
    realized keep count — expected counts equal across bins; realized
    counts carry binomial noise the report makes visible.

    Plan: bin counts are one map-side-combined aggregate; the
    probability table is |bins| rows broadcast back; selection is the
    one corpus scan.  Nothing grows at 100 TB but the scan."""
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lenbal:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    binned = docs.select(
        F.expr(f"n_chars div {_LEN_BIN}").alias("len_bin"),
        u.alias("u"),
    )
    bins = binned.groupBy("len_bin").agg(F.count("*").cast("bigint").alias("n_docs"))
    floor_bin = bins.agg(F.min("n_docs").alias("c_min"))
    p = F.col("c_min").cast("double") / F.col("n_docs")
    return (
        binned.join(F.broadcast(bins), "len_bin")
        .crossJoin(F.broadcast(floor_bin))
        .groupBy("len_bin", "n_docs", "c_min")
        .agg(
            F.sum(F.when(F.col("u") < p, 1).otherwise(0)).cast("bigint").alias("n_kept")
        )
        .select("len_bin", "n_docs", p.alias("p_keep"), "n_kept")
    )


_PS_K = 50  # sample size; tau is the (k+1)-th largest priority
_PS_POW52 = 4503599627370496.0  # 2^52: u = (h+1)/2^52 for a 13-hex-digit h


@query(
    "priority_weighted_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, GREATEST(n_chars, 1) AS w,
             (CAST(GREATEST(n_chars, 1) AS DOUBLE) * {_PS_POW52!r})
               / (CAST(('0x' || substr(md5('psamp:' || CAST(doc_id AS STRING)), 1, 13))::BIGINT
                       AS DOUBLE) + 1.0) AS q
      FROM documents
    ),
    top AS (
      SELECT doc_id, w, q,
             ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn
      FROM base ORDER BY q DESC, doc_id LIMIT {_PS_K + 1}
    ),
    tau AS (
      SELECT MAX(CASE WHEN rn = {_PS_K + 1} THEN q END) AS tau FROM top
    ),
    samp AS (
      SELECT t.doc_id, t.rn,
             GREATEST(CAST(t.w AS DOUBLE), tau.tau) AS est_w
      FROM top t CROSS JOIN tau WHERE t.rn <= {_PS_K}
    ),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS true_total FROM base
    )
    SELECT CAST({_PS_K} AS BIGINT) AS k, tau.tau AS tau,
           CAST(CAST(SUM(CAST(samp.est_w AS DECIMAL(38,8))) AS STRING) AS DOUBLE)
             AS est_total_chars,
           tot.true_total AS true_total_chars,
           substr(md5(string_agg(CAST(samp.doc_id AS STRING), ','
                                 ORDER BY samp.rn)), 1, 16) AS sample_fingerprint
    FROM samp CROSS JOIN tau CROSS JOIN tot
    GROUP BY tau.tau, tot.true_total
    """,
    covers=["LLM-sample", "A-extended", "L1/L2"],
)
def priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup, JACM '07): a fixed-size
    weight-proportional sample WITHOUT replacement whose per-item
    estimator max(w_i, tau) sums to an unbiased estimate of the true
    weighted total.  Here: sample k=50 docs by n_chars weight and
    report the estimated vs true corpus character count plus the
    order-fingerprint of the chosen ids.

    Determinism contract: u_i = (h_i+1)/2^52 from a 13-hex-digit md5
    slice, priority q_i = w_i/u_i evaluated as one correctly-rounded
    multiply then one divide (identical bit pattern in any IEEE
    engine); ties broken by doc_id.  The estimator sum crosses rows,
    so it runs in DECIMAL(38,8) (exact, associative) and surfaces via
    the string hop — the same discipline as numeric.dsum, widened
    because tau can reach w*2^52.

    Scale: the whole query is ONE corpus scan into a top-(k+1)
    selection — Spark executes orderBy().limit() as
    TakeOrderedAndProject (per-partition bounded heaps, then a
    k+1-row merge), never a global sort; everything after operates on
    k+1 rows.  At 100 TB this is the exact shape of a weighted
    data-mix probe: no RNG state, no second pass, re-runs byte-equal.
    """
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1)).alias("w")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("psamp:"), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    q = (F.col("w").cast("double") * F.lit(_PS_POW52)) / (
        h.cast("double") + F.lit(1.0)
    )
    base = docs.select("doc_id", w).select("doc_id", "w", q.alias("q"))
    top = base.orderBy(F.desc("q"), "doc_id").limit(_PS_K + 1)
    ranked = top.select(
        "doc_id",
        "w",
        "q",
        F.row_number().over(Window.orderBy(F.desc("q"), "doc_id")).alias("rn"),
    )
    tau = ranked.agg(
        F.max(F.when(F.col("rn") == _PS_K + 1, F.col("q"))).alias("tau")
    )
    samp = (
        ranked.filter(F.col("rn") <= _PS_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "rn",
            "tau",
            F.greatest(F.col("w").cast("double"), F.col("tau")).alias("est_w"),
        )
    )
    tot = base.agg(F.sum("w").cast("bigint").alias("true_total"))
    return (
        samp.crossJoin(F.broadcast(tot))
        .groupBy("tau", "true_total")
        .agg(
            F.sum(F.col("est_w").cast("decimal(38,8)"))
            .cast("string")
            .cast("double")
            .alias("est_total_chars"),
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("rn", "doc_id"))
                            ),
                            lambda s: s["doc_id"].cast("string"),
                        ),
                        ",",
                    )
                ),
                1,
                16,
            ).alias("sample_fingerprint"),
        )
        .select(
            F.lit(_PS_K).cast("bigint").alias("k"),
            "tau",
            "est_total_chars",
            F.col("true_total").alias("true_total_chars"),
            "sample_fingerprint",
        )
    )


_APPORTION_BUDGET = 1000


@query(
    "sample_budget_apportionment",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
    quota AS (
      SELECT c.source, c.n_docs,
             ({_APPORTION_BUDGET} * c.n_docs) // t.n_total AS floor_alloc,
             ({_APPORTION_BUDGET} * c.n_docs) % t.n_total AS remainder
      FROM counts c, tot t
    ),
    ranked AS (
      SELECT source, n_docs, floor_alloc, remainder,
             CAST(ROW_NUMBER() OVER (
               ORDER BY remainder DESC, source) AS BIGINT) AS rnk,
             CAST(SUM(floor_alloc) OVER () AS BIGINT) AS floor_total
      FROM quota
    )
    SELECT source, n_docs,
           CAST(floor_alloc
                + CASE WHEN rnk <= {_APPORTION_BUDGET} - floor_total
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM ranked
    ORDER BY source
    """,
    covers=["LLM-sampling", "A-extended"],
)
def sample_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a fixed sample
    budget across sources: each source gets floor(B*n_i/N) docs, and
    the B - Σfloor leftover seats go to the largest remainders — the
    exact integer way to split "sample 1000 docs proportionally"
    with allocations that provably sum to B (naive rounding doesn't).
    Complements `source_temperature_sampling` (which reweights) and
    `length_rebalance_sample` (which matches a target distribution):
    this one hits an exact global budget.

    Exactness: pure int64 throughout — B*n_i exact, floor/mod integer
    ops, remainder ranking tie-broken by source name.  No floats
    anywhere.

    Scale: one map-side-combined count per source, then all logic runs
    on the |sources|-row table (the one-row total attaches via
    broadcast); the partition-less window is over |sources| rows, a
    constant.  The downstream sampler would consume `alloc` as its
    per-source deterministic-hash threshold k."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    return apportion(counts, _APPORTION_BUDGET)


def apportion(counts: DataFrame, budget: int) -> DataFrame:
    """Hamilton largest-remainder core over any (source, n_docs) frame
    (factored so the hypothesis model test can drive it directly)."""
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    B = F.lit(budget)
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        # integer DIV/MOD: exact at any magnitude, no float quotient
        F.expr(f"CAST({budget} * n_docs AS BIGINT) DIV n_total").alias(
            "floor_alloc"
        ),
        (B.cast("bigint") * F.col("n_docs") % F.col("n_total")).alias("remainder"),
    )
    w = Window.orderBy(F.col("remainder").desc(), "source")
    ranked = quota.select(
        "source",
        "n_docs",
        "floor_alloc",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.sum("floor_alloc").over(Window.partitionBy()).cast("bigint").alias(
            "floor_total"
        ),
    )
    return ranked.select(
        "source",
        "n_docs",
        (
            F.col("floor_alloc")
            + F.when(F.col("rnk") <= B - F.col("floor_total"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("source")


@query(
    "maxmin_fair_token_caps",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS t
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) // 2 AS BIGINT) AS b
      FROM tok
    ),
    ranked AS (
      SELECT source, t,
             CAST(ROW_NUMBER() OVER (ORDER BY t, source) AS BIGINT) AS rn,
             SUM(t) OVER (ORDER BY t, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM tok
    ),
    sat AS (
      SELECT r.source, r.t, r.rn, r.p, t2.n, t2.b,
             CASE WHEN r.p + (t2.n - r.rn) * r.t <= t2.b
                  THEN 1 ELSE 0 END AS is_sat
      FROM ranked r, tot t2
    ),
    jrow AS (
      SELECT COALESCE(MAX(CASE WHEN is_sat = 1 THEN rn END), 0) AS j,
             COALESCE(MAX(CASE WHEN is_sat = 1 THEN p END), 0) AS pj
      FROM sat
    ),
    planned AS (
      SELECT s.source, s.t, s.is_sat,
             (s.b - j.pj) // (s.n - j.j) AS cap,
             (s.b - j.pj) % (s.n - j.j) AS extra_r,
             CASE WHEN s.is_sat = 0 THEN
               CAST(ROW_NUMBER() OVER (PARTITION BY s.is_sat
                                       ORDER BY s.source) AS BIGINT)
             END AS urn
      FROM sat s, jrow j
    )
    SELECT source, t AS total_tokens,
           CAST(CASE WHEN is_sat = 1 THEN t
                     ELSE cap + CASE WHEN urn <= extra_r THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc_tokens
    FROM planned
    ORDER BY source
    """,
    covers=["LLM-sampling", "A-extended", "W-extended"],
)
def maxmin_fair_token_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) token budget across sources — the
    OTHER classic mixing allocator beside Hamilton's proportional
    `sample_budget_apportionment`: small sources keep everything they
    have, large sources are capped at a common water level C chosen so
    allocations sum EXACTLY to the budget (here half the corpus's
    tokens — "downsample 2× without starving minority sources", the
    standard anti-domination data-mix rule).

    Exact integer construction: sources sorted by size, a source is
    SATURATED iff granting it fully and capping everyone above at its
    size still fits the budget (p_i + (n-i)·t_i ≤ B — all int64); with
    j saturated sources consuming p_j, the cap is (B-p_j) DIV (n-j)
    and the MOD remainder goes one token each to the first unsaturated
    sources by name.  Σ alloc = B provably; alloc_i ≤ t_i always.

    Scale: one map-side token count per source, then every window runs
    over the |sources|-row table; the two one-row scalars attach via
    broadcast — same constant-small control-plane shape as the other
    allocators.  Proven against an independent Python water-filling
    model in `tests/test_properties.py`."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("t")
    )
    return waterfill_half(tok)


def waterfill_half(tok: DataFrame) -> DataFrame:
    """Water-filling core over any (source, t) frame with budget =
    total DIV 2 (factored for the hypothesis model test; budget < total
    guarantees at least one unsaturated source, so the cap divisor is
    never zero)."""
    tot = tok.agg(
        F.sum("t").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(SUM(t) AS BIGINT) DIV 2").alias("b"),
    )
    w_rank = Window.orderBy("t", "source")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = tok.select(
        "source",
        "t",
        F.row_number().over(w_rank).cast("bigint").alias("rn"),
        F.sum("t").over(w_cum).alias("p"),
    )
    sat = ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        "t",
        "rn",
        "p",
        "n",
        "b",
        F.when(
            F.col("p") + (F.col("n") - F.col("rn")) * F.col("t") <= F.col("b"), 1
        )
        .otherwise(0)
        .alias("is_sat"),
    )
    jrow = sat.agg(
        F.coalesce(
            F.max(F.when(F.col("is_sat") == 1, F.col("rn"))), F.lit(0).cast("bigint")
        ).alias("j"),
        F.coalesce(
            F.max(F.when(F.col("is_sat") == 1, F.col("p"))), F.lit(0).cast("bigint")
        ).alias("pj"),
    )
    w_unsat = Window.partitionBy("is_sat").orderBy("source")
    planned = sat.crossJoin(F.broadcast(jrow)).select(
        "source",
        "t",
        "is_sat",
        F.expr("(b - pj) DIV (n - j)").alias("cap"),
        ((F.col("b") - F.col("pj")) % (F.col("n") - F.col("j"))).alias("extra_r"),
        F.when(
            F.col("is_sat") == 0,
            F.row_number().over(w_unsat).cast("bigint"),
        ).alias("urn"),
    )
    return planned.select(
        "source",
        F.col("t").alias("total_tokens"),
        F.when(F.col("is_sat") == 1, F.col("t"))
        .otherwise(
            F.col("cap") + F.when(F.col("urn") <= F.col("extra_r"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_tokens"),
    ).orderBy("source")


_VOCAB_V = 500  # tokenizer vocabulary budget under evaluation


@query(
    "vocab_coverage_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), freq AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), vocab AS (
      SELECT token FROM freq ORDER BY cnt DESC, token LIMIT {_VOCAB_V}
    ), cov AS (
      SELECT t.source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN vocab v ON v.token = t.token
      GROUP BY t.source
    )
    SELECT source, n_tokens, n_oov,
           CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
    FROM cov ORDER BY source
    """,
    covers=["M6-curation", "A3", "J-extended", "L-extended"],
)
def vocab_coverage_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit for a tokenizer budget: build the
    top-V=500 token vocabulary by corpus frequency (total order: count
    desc, token asc) and report, PER SOURCE, the fraction of token
    occurrences that fall outside it — the out-of-vocabulary rate that
    tells a tokenizer team which sources will fragment into bytes/
    unknowns under a fixed vocab budget, before any training run pays
    for the discovery.  Pure exact ratios (int/int division).

    Scale: token frequency is one map-side-combinable aggregate; the
    vocabulary is V rows — BROADCAST to the coverage join, so the
    second corpus pass has zero shuffle on the token stream (the
    per-source collapse combines map-side).  Both corpus passes are
    full scans; at 100 TB, fold this onto the same token stream the
    tf-idf/BPE queries already materialize."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = (
        freq.orderBy(F.desc("cnt"), "token")
        .limit(_VOCAB_V)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    cov = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return cov.select(
        "source",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    ).orderBy("source")


_SG_WINDOW = 2  # skip-gram context window (± tokens)
_SG_TOPK = 50
_SG_VOCAB = 500


@query(
    "skipgram_training_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token,
               unnest(range(length(string_split(text, ' ')))) AS pos
        FROM documents)
    ), co AS (
      SELECT a.token AS center, b.token AS context,
             CAST(COUNT(*) AS BIGINT) AS n_cooccur
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos - {_SG_WINDOW} AND a.pos + {_SG_WINDOW}
       AND b.pos <> a.pos
      GROUP BY a.token, b.token
    ), top_pairs AS (
      SELECT center, context, n_cooccur FROM co
      ORDER BY n_cooccur DESC, center, context LIMIT {_SG_TOPK}
    ), vocab AS (
      SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS rnk
      FROM (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
            ORDER BY cnt DESC, token LIMIT {_SG_VOCAB})
    ), vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab)
    SELECT p.center, p.context, p.n_cooccur,
           n1.token AS neg_1, n2.token AS neg_2
    FROM top_pairs p, vs
    JOIN vocab n1 ON n1.rnk =
      ('0x' || substr(md5('neg:' || p.center || chr(31) || p.context || ':1'),
                      1, 8))::BIGINT % vs.v
    JOIN vocab n2 ON n2.rnk =
      ('0x' || substr(md5('neg:' || p.center || chr(31) || p.context || ':2'),
                      1, 8))::BIGINT % vs.v
    ORDER BY n_cooccur DESC, center, context
    """,
    covers=["M6-curation", "J-extended", "A-extended"],
)
def skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram pretraining-pair generation (the word2vec/contrastive
    data-gen step): (center, context) co-occurrence within a ±2-token
    window, the top pairs by count, each with two DETERMINISTIC
    frequency-vocabulary negatives — hash-seeded instead of RNG-drawn,
    so the training set is reproducible row-for-row on any cluster
    (the same substitution every sampler in this repo makes).

    Scale: co-occurrence is generated IN-ROW from each document's word
    array (≤ 2·window contexts per token, one explode) — linear in
    corpus tokens with no self-join and no corpus-sized broadcast,
    collapsed map-side into the (center, context) aggregate
    (Zipf-bounded like the BPE vocab).  Negatives join the
    top pairs against the broadcast 500-row vocabulary by hashed rank;
    the modulus is the vocabulary's OWN count, so the query is correct
    even on corpora with fewer distinct tokens.

    Precondition: ``documents.doc_id`` is unique — the in-row build
    pairs tokens within one ROW, the oracle's self-join within one
    doc_id, and the two agree only when each id names one row."""
    # Co-occurrence WITHOUT the corpus self-join: the whole (center,
    # context) pair list of a document is built in-row from the word
    # array and exploded ONCE — same multiplicity as the doc-keyed
    # equi-join with a ±window position band, but no broadcast of the
    # exploded token stream and no join (guide §2.4/§3.3).  `ws` is a
    # named non-cheap column referenced many times, so CollapseProject
    # cannot inline split(text) into the lambdas (round-7 rule; the
    # repetition_scores plan proves this spelling stays bound).  The
    # join dropped null-doc_id rows; `when(isNotNull)` reproduces that
    # in-expression (NULL ws → explode emits nothing) without a Filter
    # node.  parallel_scan spreads the HOF-heavy pair build across the
    # cluster when the layout pins the scan to one task (measured A/B:
    # in-row 1-task is SLOWER than the old codegen join; 32-way it wins
    # 0.72 s vs 0.93 s for the co stage at sf0.1).
    pair_src = parallel_scan(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id").isNotNull(), F.split(F.col("text"), " ")).alias("ws")
    )
    co = (
        pair_src.select(
            F.explode(
                F.expr(
                    "flatten(transform(ws, (c, i) -> "
                    f"transform(filter(sequence(i - {_SG_WINDOW}, i + {_SG_WINDOW}), "
                    "j -> j != i AND j >= 0 AND j < size(ws)), "
                    "j -> named_struct('center', c, 'context', ws[j]))))"
                )
            ).alias("p")
        )
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n_cooccur"))
    )
    top_pairs = co.orderBy(F.desc("n_cooccur"), "center", "context").limit(_SG_TOPK)
    # Vocab stays on the plain scan: its aggregate collapses map-side,
    # so the parallel_scan exchange costs more than the 1-task explode
    # saves (measured), and the three consumers below (vs/n1/n2) spell
    # IDENTICAL shuffle subtrees that AQE deduplicates at runtime via
    # shuffle-stage reuse — an eager checkpoint only serializes the job
    # (A/B: checkpoint 1.21 s vs stage-reuse 0.87 s full query).
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    wv = Window.orderBy(F.desc("cnt"), "token")
    vocab = (
        freq.orderBy(F.desc("cnt"), "token")
        .limit(_SG_VOCAB)
        .withColumn("rnk", F.row_number().over(wv) - 1)
        .select("token", "rnk")
    )
    vs = vocab.agg(F.count("*").cast("bigint").alias("v"))

    def neg_rank(i: int):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"), F.col("center"), F.lit("\x1f"),
                        F.col("context"), F.lit(f":{i}"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        return h % F.col("v")

    n1 = vocab.select(F.col("token").alias("neg_1"), F.col("rnk").alias("r1"))
    n2 = vocab.select(F.col("token").alias("neg_2"), F.col("rnk").alias("r2"))
    return (
        top_pairs.crossJoin(F.broadcast(vs))
        .join(F.broadcast(n1), neg_rank(1) == F.col("r1"))
        .join(F.broadcast(n2), neg_rank(2) == F.col("r2"))
        .select("center", "context", "n_cooccur", "neg_1", "neg_2")
        .orderBy(F.desc("n_cooccur"), "center", "context")
    )


@query(
    "dsir_importance_weights",
    oracle="""
    WITH big AS (
      SELECT doc_id, lang, ws[t.i] || ' ' || ws[t.i + 1] AS bigram
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
            FROM documents),
           UNNEST(generate_series(1, len(ws) - 1)) t(i)
    ), hashed AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(bigram), 1, 8))::BIGINT % 1024 AS bucket
      FROM big
    ), dist AS (
      SELECT bucket,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t_cnt,
             CAST(COUNT(*) AS BIGINT) AS r_cnt
      FROM hashed GROUP BY bucket
    ), n AS (
      SELECT CAST(SUM(t_cnt) AS BIGINT) AS n_tgt,
             CAST(SUM(r_cnt) AS BIGINT) AS n_raw
      FROM dist
    ), ratio AS (
      SELECT bucket,
             (CAST(t_cnt + 1 AS DOUBLE) * CAST(n.n_raw AS DOUBLE))
               / (CAST(r_cnt + 1 AS DOUBLE) * CAST(n.n_tgt AS DOUBLE)) AS w
      FROM dist, n
    ), scored AS (
      SELECT h.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(CAST(SUM(CAST(r.w AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS importance
      FROM hashed h JOIN ratio r USING (bucket)
      GROUP BY h.doc_id
    )
    SELECT doc_id, n_bigrams,
           importance / n_bigrams AS mean_importance
    FROM scored
    ORDER BY importance / n_bigrams DESC, doc_id LIMIT 50
    """,
    covers=["LLM-curation", "M6-text", "A-extended"],
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with importance resampling (Xie et
    al. 2023, public): score every raw document by how target-like its
    hashed-bigram distribution is, where the target here is the 'en'
    slice.  Production use: point the target at a trusted high-quality
    corpus and keep the top-scoring raw docs — the importance-weighted
    upgrade over binary quality filters.

    Deviation from the paper, for the no-libm discipline: the paper
    sums log(p_tgt/p_raw) per feature; this ranks by the MEAN RATIO
    instead — each bucket weight is (t+1)·N_raw / ((r+1)·N_tgt),
    computed as correctly-rounded double products and ONE division
    (factors cast to double FIRST so the products can't wrap int64 at
    1e11+ bigrams; add-1 smoothing keeps empty buckets finite),
    summed per doc on the decimal grid.  Monotone agreement with the log form is
    per-feature, not exact — it is a ranking heuristic of the same
    family, and bit-exactly reproducible.

    Scale: bigrams hash into 1024 buckets (the paper's hashed n-gram
    trick — vocabulary-independent state), so the "model" is a
    1024-row broadcast; top-50 under a total order.  Round-10: the
    corpus is exploded and md5-hashed ONCE — the (doc, lang, bucket)
    occurrence-count collapse is checkpointed and feeds BOTH the
    model aggregate and the scoring join (the old shape re-exploded
    and re-hashed every bigram for the scoring pass; guide §2.3,
    aggregate before you shuffle / don't compute twice).  The per-doc
    decimal sum is Σ c·quantize(w) — c an exact integer multiplier of
    the same quantized bucket weight the per-occurrence sum added c
    times, so the oracle hash is unchanged."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - F.lit(1)),
        F.slice(words, 2, n - F.lit(1)),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    hashed = docs.select(
        "doc_id", "lang", F.explode(bigrams).alias("bigram")
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("bigram")), 1, 8), 16, 10)
            .cast("bigint"),
            F.lit(1024),
        ).alias("bucket"),
    )
    cnts = materialize(
        hashed.groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
        # ≤1024 rows/doc; the ONE materialization of the explode both
        # passes read
    )
    dist = materialize(cnts.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("t_cnt"),
        F.sum("c").cast("bigint").alias("r_cnt"),
    ))  # 1024 rows; totals + ratio read this
    totals = dist.agg(
        F.sum("t_cnt").cast("bigint").alias("n_tgt"),
        F.sum("r_cnt").cast("bigint").alias("n_raw"),
    )
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        # each factor cast to double BEFORE the product: the bigint
        # products (t+1)·N_raw / (r+1)·N_tgt overflow int64 near 1e11
        # bigrams (100 TB scale) and Spark with ANSI off would wrap
        # silently; double·double is correctly rounded and identical
        # to the exact product at any scale both engines run.
        (
            ((F.col("t_cnt") + 1).cast("double") * F.col("n_raw").cast("double"))
            / ((F.col("r_cnt") + 1).cast("double") * F.col("n_tgt").cast("double"))
        ).alias("w"),
    )
    scored = (
        cnts.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            # c · quantize(w): decimal(18,8) × decimal(10,0) →
            # decimal(29,8), exact — identical to adding the
            # quantized weight once per occurrence as before
            F.sum(
                F.col("w").cast("decimal(18,8)")
                * F.col("c").cast("decimal(10,0)")
            )
            .cast("string")
            .cast("double")
            .alias("importance"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            (F.col("importance") / F.col("n_bigrams")).alias("mean_importance"),
        )
        .orderBy(F.desc("mean_importance"), "doc_id")
        .limit(50)
    )


@query(
    "quality_quantile_normalize",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(n_chars AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, score,
             PERCENT_RANK() OVER (
               PARTITION BY source ORDER BY score, doc_id) AS pr
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE pr >= 0.8) AS BIGINT) AS n_kept,
           MIN(score) FILTER (WHERE pr >= 0.8) AS min_kept_score,
           MAX(score) AS max_score
    FROM ranked GROUP BY source ORDER BY source
    """,
    covers=["LLM-curation", "W-extended"],
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUANTILE NORMALIZATION of a quality score before a
    global keep threshold — the curation step that fixes the classic
    mixing bug: a raw score cut (length, LM perplexity, classifier
    margin) applied across heterogeneous sources keeps whole easy
    sources and drops whole hard ones, because score DISTRIBUTIONS
    differ by source even when quality doesn't.  Mapping each doc to
    its within-source percent-rank makes "top 20%" mean the same thing
    in every source (the per-source analogue of the global
    `length_rebalance_sample`); the readout is each source's kept
    count and the raw-score boundary that rank-cut implies — per
    source, as it should be.

    The score here is mean token length (n_chars / n_tokens, one
    correctly-rounded division) — a stand-in with real variance; any
    score column plugs into the same shape.  percent_rank is
    (rank−1)/(n−1), identical integer ratios in both engines, under a
    total order (score, doc_id).

    Scale: one source-keyed window (the only shuffle) + one source
    aggregate; sources ≪ docs, and a skewed giant source is exactly
    what the rank cut handles — the window is per-source sorted, the
    standard partitioned-sort shape."""
    docs = load(spark, sf_dir, "documents")
    score = F.col("n_chars").cast("double") / F.size(
        F.split(F.col("text"), " ")
    )
    scored = docs.select("doc_id", "source", score.alias("score"))
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    kept = F.col("pr") >= 0.8
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count(F.when(kept, 1)).cast("bigint").alias("n_kept"),
            F.min(F.when(kept, F.col("score"))).alias("min_kept_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("source")
    )


_SQL_NAIVE_SPLIT = """CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'valid'
        ELSE 'test' END"""


@query(
    "leakage_safe_split_audit",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
                 list_slice(string_split(text, ' '), 1, 5), ' '))
               AS fingerprint,
             {_SQL_NAIVE_SPLIT} AS naive_split
      FROM documents
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (naive_split = 'train') AS BIGINT)
             AS n_train,
           CAST(COUNT(*) FILTER (naive_split = 'valid') AS BIGINT)
             AS n_valid,
           CAST(COUNT(*) FILTER (naive_split = 'test') AS BIGINT)
             AS n_test,
           CAST((COUNT(*) * (COUNT(*) - 1)
                 - COUNT(*) FILTER (naive_split = 'train')
                   * (COUNT(*) FILTER (naive_split = 'train') - 1)
                 - COUNT(*) FILTER (naive_split = 'valid')
                   * (COUNT(*) FILTER (naive_split = 'valid') - 1)
                 - COUNT(*) FILTER (naive_split = 'test')
                   * (COUNT(*) FILTER (naive_split = 'test') - 1)) / 2
                AS BIGINT) AS naive_cross_pairs,
           CASE WHEN substr(fingerprint, 1, 1) <= 'b' THEN 'train'
                WHEN substr(fingerprint, 1, 1) <= 'd' THEN 'valid'
                ELSE 'test' END AS group_split
    FROM fp
    GROUP BY fingerprint
    HAVING COUNT(*) > 1
    ORDER BY fingerprint
    """,
    covers=["LLM-split", "M6-dedup", "A-extended"],
)
def leakage_safe_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware splitting audit: documents sharing a content
    fingerprint (here the 5-word prefix — the template/boilerplate
    family key; swap in the exact-md5 or near-dup canonical id at
    production strictness) must land in ONE split, or test metrics
    leak training content.  For every multi-member family the query
    reports the naive DOC-LEVEL hash split's composition and its
    cross-split pair count (the leaked pairs), next to the GROUP-LEVEL
    assignment (hash of the fingerprint itself) that sends the whole
    family to one split by construction — same 75/12.5/12.5 first-hex-
    digit convention as `train_test_split_counts`, so both splits stay
    stable under incremental ingest.

    Exactness: md5 fingerprints, integer pair counting
    (n·(n−1) − Σ_s n_s·(n_s−1))/2 — nothing floating anywhere.

    Scale: one shuffle on the 16-byte fingerprint (never text); group
    sizes are duplicate-family sizes, bounded by the dedup pipeline
    upstream.  This is the split gate a training-data pipeline runs
    AFTER dedup and BEFORE sharding — the operator that turns
    `exact_duplicate_mapping`/`neardup_canonical_docs` cluster info
    into a leak-free train/test boundary."""
    docs = load(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    naive = (
        F.when(digit <= "b", "train")
        .when(digit <= "d", "valid")
        .otherwise("test")
    )
    fp = docs.select(
        F.md5(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
        ).alias("fingerprint"),
        naive.alias("naive_split"),
    )
    cnt = F.count("*")
    n_tr = F.sum((F.col("naive_split") == "train").cast("long"))
    n_va = F.sum((F.col("naive_split") == "valid").cast("long"))
    n_te = F.sum((F.col("naive_split") == "test").cast("long"))
    gdigit = F.substring(F.col("fingerprint"), 1, 1)
    return (
        fp.groupBy("fingerprint")
        .agg(
            cnt.cast("bigint").alias("n_docs"),
            n_tr.cast("bigint").alias("n_train"),
            n_va.cast("bigint").alias("n_valid"),
            n_te.cast("bigint").alias("n_test"),
            (
                (
                    cnt * (cnt - 1)
                    - n_tr * (n_tr - 1)
                    - n_va * (n_va - 1)
                    - n_te * (n_te - 1)
                )
                / 2
            )
            .cast("bigint")
            .alias("naive_cross_pairs"),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn(
            "group_split",
            F.when(gdigit <= "b", "train")
            .when(gdigit <= "d", "valid")
            .otherwise("test"),
        )
        .orderBy("fingerprint")
    )
