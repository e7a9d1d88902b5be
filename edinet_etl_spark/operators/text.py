"""M6 text analysis over the ``documents`` table: language ID, quality
scoring, token counting, document fingerprinting.

Everything is built-in string/array expressions (whole-stage codegen);
no Python in the hot path.  All ratios are int/int divisions in double
— deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.tables import load


def _occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via the length-difference trick (portable to any
    SQL engine; avoids regex escaping differences)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(
        needle
    )


def _sql_occurrences(text: str, needle: str) -> str:
    return f"(length({text}) - length(replace({text}, '{needle}', ''))) / {len(needle)}"


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           n_chars,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words,
           CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / length(string_split(text, ' ')) AS lexical_diversity,
           CAST(n_chars - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / length(string_split(text, ' ')) AS avg_word_len
    FROM documents
    """,
    covers=["M6-text"],
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics: word/char counts, lexical
    diversity, average word length."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("bigint")
    n_distinct = F.size(F.array_distinct(words)).cast("bigint")
    no_space_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        (n_distinct.cast("double") / n_words).alias("lexical_diversity"),
        (F.col("n_chars") - no_space_len).cast("bigint").alias("n_spaces"),
        (no_space_len.cast("double") / n_words).alias("avg_word_len"),
    )


_LANG_MARKERS = {
    "en": [" the ", " a ", " is "],
    "de": [" der ", " die ", " und "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " y "],
}


@query(
    "language_id_heuristic",
    oracle=(
        "WITH scored AS (SELECT doc_id, lang AS labeled_lang, "
        + ", ".join(
            "("
            + " + ".join(_sql_occurrences("' ' || text || ' '", m) for m in markers)
            + f") AS score_{lang}"
            for lang, markers in _LANG_MARKERS.items()
        )
        + " FROM documents)\n"
        "SELECT doc_id, labeled_lang,\n"
        "  (CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'\n"
        "        WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'\n"
        "        WHEN score_fr >= score_es THEN 'fr'\n"
        "        ELSE 'es' END) AS predicted_lang\n"
        "FROM scored"
    ),
    covers=["M6-text"],
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language ID: count per-language marker tokens,
    argmax with a fixed priority order (en > de > fr > es) so ties are
    deterministic.  (A production version swaps markers for character
    n-gram profiles — same dataflow: score columns + argmax.)"""
    docs = load(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(_occurrences(padded, m) for m in markers).alias(f"score_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *scores.values())
    sc = {lang: F.col(f"score_{lang}") for lang in _LANG_MARKERS}
    predicted = (
        F.when(
            (sc["en"] >= sc["de"]) & (sc["en"] >= sc["fr"]) & (sc["en"] >= sc["es"]), "en"
        )
        .when((sc["de"] >= sc["fr"]) & (sc["de"] >= sc["es"]), "de")
        .when(sc["fr"] >= sc["es"], "fr")
        .otherwise("es")
    )
    return scored.select("doc_id", "labeled_lang", predicted.alias("predicted_lang"))


@query(
    "token_count_estimate",
    oracle="""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        tok -> CAST(floor((length(tok) + 3) / 4) AS BIGINT)))
                AS BIGINT) AS bpe_tokens_est
    FROM documents
    """,
    covers=["M6-text"],
)
def token_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish estimate
    (ceil(len/4) subword pieces per word — the standard ~4 chars/token
    heuristic).  Computed as an array-local transform+fold: no explode,
    no shuffle — each document's count is finished inside its own scan
    partition (the only sane shape for per-doc stats at 100 TB)."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bpe = F.aggregate(
        F.transform(words, lambda t: F.floor((F.length(t) + 3) / 4).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_tokens_est"),
    )


@query(
    "document_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
           substr(md5(text), 1, 8) AS short_fp
    FROM documents
    """,
    covers=["M6-text", "M6-dedup"],
)
def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash, order-insensitive
    bag-of-words hash, and a short prefix fingerprint for sharding."""
    docs = load(spark, sf_dir, "documents")
    bow = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_fp"),
        bow.alias("bow_fp"),
        F.substring(F.md5("text"), 1, 8).alias("short_fp"),
    )


@query(
    "quality_scores",
    oracle="""
    SELECT doc_id,
           least(1.0, CAST(length(string_split(text, ' ')) AS DOUBLE) / 50.0) * 0.5
           + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
                        / length(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
                   THEN 0.3 ELSE 0.1 END)
           + least(0.2, CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / length(string_split(text, ' ')) * 0.2) AS quality_score,
           (CASE WHEN length(string_split(text, ' ')) >= 20 THEN TRUE ELSE FALSE END) AS passes_min_length
    FROM documents
    """,
    covers=["M6-text"],
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length credit (saturating), average-
    word-length plausibility band, lexical-diversity credit — the
    standard pretraining-filter shape, as one codegen'd expression."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    avg_wlen = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    diversity = F.size(F.array_distinct(words)).cast("double") / n_words
    score = (
        F.least(F.lit(1.0), n_words.cast("double") / 50.0) * 0.5
        + F.when(avg_wlen.between(3.0, 8.0), 0.3).otherwise(0.1)
        + F.least(F.lit(0.2), diversity * 0.2)
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (n_words >= 20).alias("passes_min_length"),
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
             CAST(tf.tf AS DOUBLE) * n.n_docs / df.doc_freq AS tfidf_ratio,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.doc_freq DESC,
                        tf.term
             ) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, doc_freq, tfidf_ratio
    FROM scored WHERE rn <= 3
    """,
    covers=["M6-text", "A-extended", "W-extended"],
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (SURVEY §7.2 M6: "tf-idf via
    explode + groupBy").

    Score = tf · N/df — the idf kept as an exact *ratio* rather than
    its log: one int-product and one correctly-rounded division are
    bit-identical across engines, while ``ln`` is libm-dependent (may
    differ in the last ulp between JVM and C).  The ranking is
    identical (log is monotone).

    Shuffles: tf groupBy on (doc_id, term); df groupBy on term; the
    df side re-joins on term (hash join); N is a 1-row broadcast.  At
    100 TB, df for stop-words is huge but the *output* per term is one
    long — partial aggregation keeps the shuffle proportional to
    distinct terms per partition.
    """
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("doc_freq")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_ratio",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("doc_freq"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ratio"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "doc_freq", "tfidf_ratio")
    )


# Corpus-level boilerplate removal (CCNet/RefinedWeb-style): split each
# document into fixed-width word segments, hash-count segment frequency
# corpus-wide, and strip segments that recur across too many documents.
_SEG_WORDS = 4  # segment width in words (≈ the paragraph-hash unit)
_SEG_MAX_DOCS = 2  # a segment in > this many distinct docs is boilerplate


@query(
    "boilerplate_segment_removal",
    oracle=f"""
    WITH seg AS (
      SELECT doc_id, t.i - 1 AS widx, (t.i - 1) // {_SEG_WORDS} AS seg_idx, ws[t.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           UNNEST(generate_series(1, len(ws))) t(i)
    ), segments AS (
      SELECT doc_id, seg_idx, string_agg(w, ' ' ORDER BY widx) AS segment
      FROM seg GROUP BY doc_id, seg_idx
    ), freq AS (
      SELECT segment, COUNT(DISTINCT doc_id) AS n_docs_with
      FROM segments GROUP BY segment
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN f.n_docs_with > {_SEG_MAX_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           COALESCE(string_agg(CASE WHEN f.n_docs_with <= {_SEG_MAX_DOCS}
                                    THEN s.segment END,
                               ' ' ORDER BY s.seg_idx), '') AS clean_text
    FROM segments s JOIN freq f USING (segment)
    GROUP BY s.doc_id
    """,
    covers=["M6-text", "M6-dedup", "A-extended"],
)
def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate stripping, the CCNet/RefinedWeb
    paragraph-dedup shape: segment every document into fixed 4-word
    chunks, count each distinct segment's document frequency across
    the WHOLE corpus, and rebuild each document with over-shared
    segments removed (keeping original order).  This is the cleaning
    op that removes nav bars / license headers / cookie banners from
    web-crawl pretraining data — the per-doc filters above can't see
    cross-document repetition; this one is defined by it.

    Plan (3 stages, 2 shuffles):
      1. segmentation is ARRAY-LOCAL (sequence + slice + concat_ws
         inside the row — no explode until the segment stream);
      2. segment document-frequency is one partial-aggregated groupBy
         on the segment string;
      3. the boilerplate *list* (segments over the threshold) is the
         small side — it joins back to the segment stream as a
         broadcast/AQE left join (the corpus stream is never
         re-shuffled on the segment key), then one groupBy(doc_id)
         reassembles clean text via array_sort(collect_list(struct)).
    At 100 TB the df aggregate shuffles ≤ distinct-segments-per-
    partition (map-side combine); if the boilerplate list outgrows
    broadcast, the join degrades to the already-partitioned shuffle
    join — semantics unchanged.  Threshold >{_SEG_MAX_DOCS} docs keeps
    the op non-vacuous on the fixtures (183 segments stripped at
    sf0.01)."""
    docs = load(spark, sf_dir, "documents")
    # r10: the word array is materialized behind an exchange BEFORE
    # the segmentation lambda reads it — the checkpoint (below) kept
    # the inline-split trap to ONE evaluation per doc, but that one
    # pass still re-split the text per segment (O(words²/4) per doc);
    # with `ws` a bound column the pass is linear.  Measured on the
    # checkpoint-producing pass alone at sf0.1: 0.42-0.72 s →
    # 0.20-0.23 s, row-identical.
    dw = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    ws = F.col("ws")
    n_seg = F.ceil(F.size(ws) / F.lit(_SEG_WORDS)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * _SEG_WORDS + F.lit(1), F.lit(_SEG_WORDS))
        ),
    )
    # materialize the segment arrays ONCE: three branches consume them
    # (boiler df, dropped-index list, array-local rebuild); after the
    # eager checkpoint all three read a bound column
    segd = materialize(dw.select("doc_id", segs.alias("segs")))
    seg = segd.select(
        "doc_id", F.posexplode("segs").alias("seg_idx", "segment")
    )
    boiler = (
        seg.groupBy("segment")
        .agg(F.count_distinct("doc_id").alias("n_docs_with"))
        .filter(F.col("n_docs_with") > _SEG_MAX_DOCS)
        .withColumn("is_boiler", F.lit(True))
        .select("segment", "is_boiler")
    )
    # round-10 (guide §2.3): the rebuild used to shuffle EVERY segment
    # of every doc through a collect_list + array_sort groupBy just to
    # delete the few boilerplate hits.  Only the DROPPED indices move
    # now: the boiler join keeps its broadcast (no corpus shuffle),
    # the inner-match per-doc index list is boilerplate-occurrence-
    # sized, and each document is rebuilt ARRAY-LOCALLY by filtering
    # its own segment array against that list (drop_arr is a bound
    # post-aggregate column, so the lambda reads an attribute —
    # CLAUDE.md nested-lambda rule).
    drop_idx = (
        seg.join(boiler, "segment", "inner")
        .groupBy("doc_id")
        .agg(F.collect_list("seg_idx").alias("drop_arr"))
    )
    keep = lambda p: ~F.coalesce(  # noqa: E731
        F.array_contains(F.col("drop_arr"), p), F.lit(False)
    )
    indexed = F.zip_with(
        F.col("segs"),
        F.sequence(F.lit(0), F.size("segs") - F.lit(1)),
        lambda s, p: F.struct(s.alias("segment"), p.alias("p")),
    )
    return (
        segd.join(drop_idx, "doc_id", "left")
        .select(
            "doc_id",
            F.size("segs").cast("bigint").alias("n_segments"),
            F.when(F.col("drop_arr").isNull(), F.lit(0))
            .otherwise(F.size("drop_arr"))
            .cast("bigint")
            .alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(indexed, lambda s: keep(s["p"])),
                    lambda s: s["segment"],
                ),
            ).alias("clean_text"),
        )
    )


@query(
    "bigram_novelty_scores",
    oracle="""
    WITH big AS (
      SELECT DISTINCT doc_id, ws[t.i] || ' ' || ws[t.i + 1] AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           UNNEST(generate_series(1, len(ws) - 1)) t(i)
    ), df AS (
      SELECT bigram, COUNT(*) AS doc_freq FROM big GROUP BY bigram
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
           CAST(SUM(CASE WHEN df.doc_freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_bigrams,
           CAST(SUM(df.doc_freq) AS DOUBLE)
             / (COUNT(*) * ANY_VALUE(n.n_docs)) AS mean_bigram_df_ratio
    FROM big JOIN df USING (bigram) CROSS JOIN n
    GROUP BY big.doc_id
    """,
    covers=["M6-text", "A-extended"],
)
def bigram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-level corpus familiarity — the model-free stand-in for an
    n-gram LM perplexity filter: for each document's DISTINCT word
    bigrams, how many are corpus-unique (novel phrasing or noise) and
    the mean bigram document-frequency ratio (how "seen before" its
    phrasing is).  Unigram rarity (`doc_rarity_scores`) can't separate
    common-words-in-odd-order from genuinely common text; bigrams can —
    the exact reason LM-based quality filters beat stopword ratios.

    All scores are integer-count ratios (no libm).  Plan mirrors
    `doc_rarity_scores`: bigram construction is array-local
    (zip_with over two shifted slices — no explode before the
    per-doc distinct), one bigram-keyed df aggregate, join back
    (AQE broadcasts small vocabularies; term-salting applies at web
    scale), one doc-keyed aggregate."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    bigrams = F.array_distinct(
        F.zip_with(
            F.slice(words, 1, n - F.lit(1)),
            F.slice(words, 2, n - F.lit(1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    big = docs.select("doc_id", F.explode(bigrams).alias("bigram"))
    df = big.groupBy("bigram").agg(F.count("*").alias("doc_freq"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        big.join(df, "bigram")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_bigrams"),
            F.sum((F.col("doc_freq") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_unique_bigrams"),
            F.sum("doc_freq").alias("sum_df"),
            F.first("n_docs").alias("n_docs"),
        )
        .select(
            "doc_id",
            "n_distinct_bigrams",
            "n_unique_bigrams",
            (
                F.col("sum_df").cast("double")
                / (F.col("n_distinct_bigrams") * F.col("n_docs"))
            ).alias("mean_bigram_df_ratio"),
        )
    )


@query(
    "doc_rarity_scores",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), df AS (
      SELECT term, COUNT(*) AS doc_freq FROM tok GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_terms,
           CAST(MIN(df.doc_freq) AS BIGINT) AS rarest_df,
           CAST(SUM(df.doc_freq) AS DOUBLE)
             / (COUNT(*) * ANY_VALUE(n.n_docs)) AS mean_df_ratio
    FROM tok JOIN df USING (term) CROSS JOIN n
    GROUP BY tok.doc_id
    """,
    covers=["M6-text", "A-extended"],
)
def doc_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded rarity/quality signal per document: for each
    doc's DISTINCT terms, the mean document-frequency ratio (how
    "ordinary" its vocabulary is corpus-wide) and the rarest term's
    document frequency.  Low mean_df_ratio ≈ jargon/noise; rarest_df=1
    flags docs carrying hapax terms — the cheap stand-in for an LM
    perplexity filter that needs no model and no libm (the score is an
    integer-sum ratio: one correctly-rounded double division).

    Plan: distinct (doc, term) pairs via array_distinct BEFORE the
    explode (array-local dedup, shrinks the shuffle), one term-keyed
    aggregate for df, join back on term (AQE broadcasts the df side
    when the vocabulary is small — here 10² terms; at web scale the
    vocab join is the classic skew case and term salting applies),
    then one doc-keyed aggregate.  n_docs is a broadcast scalar."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("term"),
    )
    df = tok.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tok.join(df, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_terms"),
            F.min("doc_freq").cast("bigint").alias("rarest_df"),
            F.sum("doc_freq").alias("sum_df"),
            F.first("n_docs").alias("n_docs"),
        )
        .select(
            "doc_id",
            "n_distinct_terms",
            "rarest_df",
            (
                F.col("sum_df").cast("double")
                / (F.col("n_distinct_terms") * F.col("n_docs"))
            ).alias("mean_df_ratio"),
        )
    )


_TF_DIMS = 32  # hashed term-frequency vector width


def _sql_tf_hash(expr: str) -> str:
    return f"('0x' || substr(md5('tf:' || {expr}), 1, 8))::BIGINT % {_TF_DIMS}"


@query(
    "hashed_tf_cosine_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), vecs AS (
      SELECT doc_id,
             [{', '.join(
                 f'CAST(COUNT(*) FILTER (WHERE {_sql_tf_hash("word")} = {i}) AS BIGINT)'
                 for i in range(_TF_DIMS))}] AS v
      FROM words GROUP BY doc_id
    ), pairs AS (
      SELECT q.doc_id AS query_id, n.doc_id AS neighbor_id,
             list_dot_product(CAST(q.v AS DOUBLE[]), CAST(n.v AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.v AS DOUBLE[]), CAST(q.v AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(n.v AS DOUBLE[]), CAST(n.v AS DOUBLE[]))))
               AS cosine
      FROM vecs q JOIN vecs n ON n.doc_id <> q.doc_id
      WHERE q.doc_id < 5
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM pairs) WHERE rn <= 3
    """,
    covers=["M6-similarity", "M6-text", "W-extended"],
)
def hashed_tf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text similarity WITHOUT an embedding model: each document folds
    into a 32-dim hashed term-frequency vector (the HashingTF trick —
    vocabulary-free, so the featurizer needs no fitted state and two
    corpora featurize identically), then cosine top-3 for the query
    docs — the graded-similarity step between `bag_of_words_dedup`
    (binary same/different) and the embedding ANN ladder (needs a
    model).

    Determinism: counts are integers, the dot is an integer sum
    evaluated in double (exact below 2^53), norms/division correctly
    rounded — every cosine bit-identical across engines.

    Plan/scale: featurization is ONE groupBy over the word explode
    with 32 conditional counts (map-side combined — each task ships 32
    ints per doc, not words); the vector table is corpus-sized but
    8×narrower than the text; search broadcasts the query slice and
    scans vectors once, and any of the ANN ladder's index stages
    (LSH buckets, IVF cells) drops in unchanged on top of these
    vectors when the corpus outgrows brute force."""
    docs = load(spark, sf_dir, "documents").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("tf:"), F.col("word"))), 1, 8), 16, 10
        ).cast("bigint")
        % _TF_DIMS
    )
    vecs = words.select("doc_id", bucket.alias("b")).groupBy("doc_id").agg(
        F.array(
            *[
                F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("bigint")
                for i in range(_TF_DIMS)
            ]
        ).alias("v")
    )
    from edinet_etl_spark.operators.similarity import dot_exact

    # r10 (guide §2.3 project-before-the-exchange applied to per-pair
    # work): cast-to-double and the self-norm are per-ROW facts, so
    # compute them once per side BEFORE the cross join — the old form
    # re-ran transform(v) on both sides and THREE interpreted HOF dot
    # products per (query × neighbor) pair; now each pair pays exactly
    # one dot + one divide.  sqrt(a)·sqrt(b) is the same two
    # correctly-rounded sqrts and product as before — cosine bits
    # unchanged.
    vd = F.transform(F.col("v"), lambda x: x.cast("double"))
    vecs = vecs.select(
        "doc_id",
        vd.alias("vd"),
        F.sqrt(dot_exact(vd, vd)).alias("norm"),
    )
    q = vecs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("vd").alias("qv"),
        F.col("norm").alias("qn"),
    )
    n = vecs.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("vd").alias("nv"),
        F.col("norm").alias("nn"),
    )
    cosine = dot_exact(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
    )


def _ngram_array(words: Column, n: int) -> Column:
    """Word n-grams built ARRAY-LOCALLY (one transform over index
    positions — no token explode, no join): [] for docs shorter than n
    (sequence() would go DESCENDING for start > stop, so guard)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _sql_ngrams(n: int) -> str:
    """DuckDB mirror of `_ngram_array` post-explode: (doc_id, g) rows."""
    g = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return f"""
      SELECT doc_id, {g} AS g
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {n - 1})) AS i
            FROM words)
    """


@query(
    "gopher_repetition_flags",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS ({_sql_ngrams(2)}),
    bgc AS (SELECT doc_id, substr(md5(g), 1, 16) AS fp, COUNT(*) AS c
            FROM bg GROUP BY doc_id, substr(md5(g), 1, 16)),
    bstat AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_bg,
             CAST(SUM(c) AS BIGINT) AS n_bg
      FROM bgc GROUP BY doc_id
    ), g5 AS ({_sql_ngrams(5)}),
    g5c AS (SELECT doc_id, substr(md5(g), 1, 16) AS fp, COUNT(*) AS c
            FROM g5 GROUP BY doc_id, substr(md5(g), 1, 16)),
    s5 AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_5,
             CAST(COUNT(*) AS BIGINT) AS d_5
      FROM g5c GROUP BY doc_id
    )
    SELECT b.doc_id, b.max_bg AS max_bigram_count,
           CAST(b.max_bg AS DOUBLE) / b.n_bg AS top_bigram_share,
           CAST(s5.n_5 - s5.d_5 AS DOUBLE) / s5.n_5 AS dup_5gram_share,
           (CAST(b.max_bg AS DOUBLE) / b.n_bg > 0.10
            OR CAST(s5.n_5 - s5.d_5 AS DOUBLE) / s5.n_5 > 0.30)
             AS is_repetitive
    FROM bstat b JOIN s5 ON b.doc_id = s5.doc_id
    """,
    covers=["M6-text", "A-extended"],
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION filters (the rule family of Rae et al.
    2021 §A1.1, public paper): per document, the share of word-bigrams
    claimed by the single MOST FREQUENT bigram (the mode — which the
    array-local dup fractions of `repetition_scores` cannot express)
    and the duplicate share among word-5-grams, each with a
    rule-threshold verdict — the "remove boilerplate-loops and
    stutter" pretraining gate as a yes/no flag per doc.

    Exactness: both shares are one int/int division (correctly
    rounded); the flag compares identical doubles against literal
    thresholds, so the verdict is engine-independent.

    Plan: BOTH n-gram sizes ride ONE corpus pass — each row explodes a
    single tagged array (n-grams built array-locally by a transform
    over index positions; no token explode, no join), and every gram
    crosses the wire as a 16-char md5 FINGERPRINT, never the raw
    n-gram text (the oracle groups by the same fingerprint, so the
    grouping is engine-identical by construction, not merely
    collision-improbable).  One (doc_id, n, fp) count aggregate feeds
    one (doc_id, n) aggregate feeds one doc_id pivot — three
    map-side-combined shuffles total, all keyed so a pathological
    document spreads its grams across partitions instead of
    hot-spotting one.  State per doc is a handful of integers."""
    docs = load(spark, sf_dir, "documents").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    ws = F.col("ws")

    def tagged(n: int) -> Column:
        # ONE flat transform per n: position → (n, fingerprint) struct
        # directly (nesting a second transform over the gram array
        # de-optimizes codegen — measured 10× slower)
        grams = F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", *[F.element_at(ws, i + j) for j in range(n)]
                        )
                    ),
                    1,
                    16,
                ).alias("fp"),
            ),
        )
        return F.when(F.size(ws) >= n, grams).otherwise(
            F.array().cast("array<struct<n:int,fp:string>>")
        )

    rows = toks.select(
        "doc_id", F.explode(F.concat(tagged(2), tagged(5))).alias("t")
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.fp").alias("fp"))
    per_n = (
        rows.groupBy("doc_id", "n", "fp")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "n")
        .agg(
            F.max("c").cast("bigint").alias("max_c"),
            F.sum("c").cast("bigint").alias("tot"),
            F.count("*").cast("bigint").alias("dis"),
        )
    )
    stats = per_n.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("max_c"))).alias("max_bg"),
        F.max(F.when(F.col("n") == 2, F.col("tot"))).alias("n_bg"),
        F.max(F.when(F.col("n") == 5, F.col("tot"))).alias("n_5"),
        F.max(F.when(F.col("n") == 5, F.col("dis"))).alias("d_5"),
    )
    top_share = F.col("max_bg").cast("double") / F.col("n_bg")
    dup_share = (F.col("n_5") - F.col("d_5")).cast("double") / F.col("n_5")
    return (
        # docs shorter than 5 words have no 5-gram row — same drop
        # semantics as the oracle's inner join
        stats.filter(F.col("n_5").isNotNull())
        .select(
            "doc_id",
            F.col("max_bg").alias("max_bigram_count"),
            top_share.alias("top_bigram_share"),
            dup_share.alias("dup_5gram_share"),
            ((top_share > 0.10) | (dup_share > 0.30)).alias("is_repetitive"),
        )
    )


# BM25 constants; the idf is the RATIONAL variant (N-df+0.5)/(df+0.5)
# — monotone in df like the classic log idf but libm-free, so scores
# compare bit-exactly across engines (CLAUDE.md: no ln/exp in compared
# columns; +,*,/ are correctly rounded and deterministic).
_BM25_TERMS = ("hash", "merge", "vector")
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_K1P1 = "CAST(2.2 AS DOUBLE)"
_BM25_1MB = "CAST(0.25 AS DOUBLE)"  # 1 - b, b = 0.75
_BM25_B = "CAST(0.75 AS DOUBLE)"


@query(
    "bm25_retrieval_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words WHERE w IN {_BM25_TERMS!r}
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT t.doc_id, t.w,
             ((CAST(c.n - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * ((CAST(t.tf AS DOUBLE) * {_BM25_K1P1})
                / (CAST(t.tf AS DOUBLE)
                   + {_BM25_K1} * ({_BM25_1MB}
                      + {_BM25_B} * (CAST(l.dl AS DOUBLE) / c.avgdl))))
               AS s
      FROM tf t JOIN df d ON d.w = t.w JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN consts c
    ),
    per_doc AS (
      SELECT doc_id,
             (COALESCE(MAX(CASE WHEN w = '{_BM25_TERMS[0]}' THEN s END),
                       CAST(0 AS DOUBLE))
              + COALESCE(MAX(CASE WHEN w = '{_BM25_TERMS[1]}' THEN s END),
                         CAST(0 AS DOUBLE)))
              + COALESCE(MAX(CASE WHEN w = '{_BM25_TERMS[2]}' THEN s END),
                         CAST(0 AS DOUBLE)) AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms_matched
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, n_terms_matched
    FROM per_doc ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    covers=["M6-text", "A2", "L2"],
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-10 documents for the fixed query
    {hash, merge, vector} — k1 = 1.2, b = 0.75, rational idf
    (N − df + ½)/(df + ½) (libm-free; same df-monotonicity as the log
    form, so rankings agree where it matters and scores stay
    engine-bit-exact — every arithmetic step is a correctly-rounded
    double op mirrored structurally in both engines).

    Scale shape: the token explode is filtered to the query terms
    BEFORE any shuffle (predicate on the generator output — corpus
    tokens that aren't query terms never leave the scan stage), so
    the per-(doc, term) tf aggregate is |matches|-sized, not
    corpus-token-sized.  df is a |terms|-row aggregate of that; it
    and the one-row (N, avgdl) scalar attach by broadcast.  Per-doc
    document length is computed array-locally (no second explode).
    Top-10 is TakeOrdered — no global sort materialization.  At
    100 TB: one doc-keyed shuffle of query-term hits, everything else
    broadcast — the textbook sparse-retrieval scatter-gather."""
    docs = load(spark, sf_dir, "documents")
    terms = list(_BM25_TERMS)
    dl = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl")
    )
    consts = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").cast("bigint").alias("df"))
    tfd = F.col("tf").cast("double")
    idf = ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    den = tfd + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", "w", (idf * ((tfd * F.lit(2.2)) / den)).alias("s"))
    )
    bm25 = (
        (
            F.coalesce(
                F.max(F.when(F.col("w") == terms[0], F.col("s"))), F.lit(0.0)
            )
            + F.coalesce(
                F.max(F.when(F.col("w") == terms[1], F.col("s"))), F.lit(0.0)
            )
        )
        + F.coalesce(
            F.max(F.when(F.col("w") == terms[2], F.col("s"))), F.lit(0.0)
        )
    ).alias("bm25")
    return (
        scored.groupBy("doc_id")
        .agg(bm25, F.count("*").cast("bigint").alias("n_terms_matched"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@query(
    "inverted_index_postings",
    oracle="""
    WITH posting AS (
      SELECT DISTINCT t.term, doc_id
      FROM documents, UNNEST(string_split(text, ' ')) t(term)
      WHERE t.term <> ''
    ),
    terms AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(MIN(doc_id) AS BIGINT) AS first_doc,
             CAST(MAX(doc_id) AS BIGINT) AS last_doc,
             md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS postings_md5
      FROM posting GROUP BY term
    )
    SELECT term, df, first_doc, last_doc, postings_md5
    FROM terms
    ORDER BY df DESC, term
    LIMIT 20
    """,
    covers=["TXT-index", "A-extended", "L2"],
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the search-engine primitive under
    `bm25_retrieval_topk`: per term, its document frequency and the
    SORTED posting list (surfaced as an md5 fingerprint so the
    variable-length list compares bit-exact across engines; first/last
    doc ids are the human-readable sample).  Top-20 terms by df,
    ties pinned by term.

    The posting-list hash is over the canonical ','-joined ascending
    doc-id string — the same bytes any engine building this index
    would write, so two independent builds can be diffed one row per
    term (the index analogue of `table_checksum_audit`).

    Scale: explode → DISTINCT (term, doc) collapses multiplicity
    map-side; the posting aggregation shuffles once on term (the skew
    case is stopword terms — exactly what `join_key_skew_profile`
    measures and ranked-salt sub-bucketing handles for the dedup
    family; here the giant posting collapses to one md5 inside the
    aggregate, never materializing pairwise work); TakeOrdered top-20.
    At 100 TB the posting string for a stopword is the one unbounded
    object — production would segment postings into fixed-size blocks
    per (term, block_id), the standard blocked-postings layout, before
    hashing; df and the block structure shuffle identically."""
    docs = load(spark, sf_dir, "documents")
    posting = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    terms = posting.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            )
        ).alias("postings_md5"),
    )
    return terms.orderBy(F.col("df").desc(), "term").limit(20)


@query(
    "doc_top_token_arrayonly",
    oracle="""
    SELECT doc_id, tok AS top_token, cnt AS top_count FROM (
      SELECT doc_id, tok, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, tok DESC) AS rn
      FROM (
        SELECT doc_id, t.term AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents, UNNEST(string_split(text, ' ')) t(term)
        WHERE doc_id < 100
        GROUP BY doc_id, t.term
      )
    ) WHERE rn = 1
    ORDER BY doc_id
    """,
    covers=["TXT-hof", "F-higher-order"],
)
def doc_top_token_arrayonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc most frequent token computed ENTIRELY with array
    higher-order functions — no explode, no shuffle, no window: the
    plan is a single codegen'd projection (pinned in test_plans: zero
    Generate/Exchange nodes beyond the scan).  transform over
    array_distinct counts each candidate with filter+size, and
    array_max over (count, token) structs elects the winner with the
    tie pinned to the larger token — the oracle states the same
    election relationally.

    This is the operator-form proof of the HOF tier the similarity
    kernels rely on (`dot_exact`'s zip_with/aggregate): row-local
    array work stays inside one whole-stage-codegen pass, the cheapest
    tier in the engine, below even mapInArrow.

    Scale: per-row work is O(distinct × tokens) but strictly row-local
    — zero shuffle, embarrassingly parallel; output bounded by the
    doc_id filter exactly like `udtf_char_ngrams`."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    pairs = F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            F.size(F.filter(toks, lambda x: x == t)).cast("bigint").alias("cnt"),
            t.alias("tok"),
        ),
    )
    best = F.array_max(pairs)
    return docs.select(
        "doc_id",
        best["tok"].alias("top_token"),
        best["cnt"].alias("top_count"),
    ).orderBy("doc_id")


@query(
    "token_gini_diversity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), tc AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token
    ), per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           1 - CAST(sum_c2 AS DOUBLE) / (n_tokens * n_tokens)
             AS gini_diversity,
           1 - CAST(sum_c2 AS DOUBLE) / (n_tokens * n_tokens) < 0.5
             AS low_diversity
    FROM per_doc ORDER BY doc_id
    """,
    covers=["M6-text", "LLM-quality"],
)
def token_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Gini impurity per document — the libm-free
    stand-in for token ENTROPY in a quality ladder: 1 − Σ pᵢ² over the
    document's token distribution.  Near 0 ⇒ the doc is one token
    repeated (spam, boilerplate, keyword stuffing); near 1 ⇒ diverse
    vocabulary.  Catches the same degenerate docs an entropy filter
    catches (both are Rényi diversities — order 2 vs order 1) without
    ln(): Σ pᵢ² = Σ cᵢ² / N², so the whole score is ONE division of
    exact integers.  The `low_diversity` flag (<0.5 ⇒ effective
    vocabulary under 2 tokens) is the curation-filter readout.

    Scale: explode → (doc, token) count → per-doc integer moments; all
    map-side combinable, doc-keyed, no joins.  Same plan family as
    `repetition_scores`, orthogonal signal (repetition looks at ngram
    re-occurrence, this at distribution concentration)."""
    docs = load(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per_doc = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    gini = 1 - F.col("sum_c2").cast("double") / (
        F.col("n_tokens") * F.col("n_tokens")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        gini.alias("gini_diversity"),
        (gini < 0.5).alias("low_diversity"),
    ).orderBy("doc_id")


# Winnowing (Schleimer/Wilkerson/Aiken 2003 "local algorithms for
# document fingerprinting"): k-word shingles hashed, then one
# fingerprint selected per sliding window of w consecutive hashes —
# the MIN hash, ties to the RIGHTMOST position.  Guarantees any shared
# run of >= k + w - 1 words produces a shared fingerprint, with ~2/(w+1)
# selection density.  Dials prefixed per CLAUDE.md.
_WINNOW_K = 4  # shingle width (words)
_WINNOW_W = 5  # winnowing window (consecutive shingle hashes)
_WINNOW_POSM = 1 << 20  # position encoding base (> max shingles/doc)


def _sql_winnow_kgram() -> str:
    return " || ' ' || ".join(f"ws[t.i + {j}]" for j in range(_WINNOW_K))


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), kg AS (
      SELECT doc_id, t.i AS i,
             ('0x' || substr(md5('winnow:' || {_sql_winnow_kgram()}), 1, 8))::BIGINT AS h
      FROM words, UNNEST(generate_series(1, len(ws) - {_WINNOW_K - 1})) t(i)
      WHERE t.i < {_WINNOW_POSM}
    ), keys AS (
      SELECT doc_id, i,
             h * {_WINNOW_POSM} + ({_WINNOW_POSM} - i) AS key,
             COUNT(*) OVER (PARTITION BY doc_id) AS m
      FROM kg
    ), winmin AS (
      SELECT doc_id, i, m,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW
                            AND {_WINNOW_W - 1} FOLLOWING) AS skey
      FROM keys
    ), sel AS (
      SELECT DISTINCT doc_id, skey FROM winmin
      WHERE i <= GREATEST(m - {_WINNOW_W - 1}, 1)
    ), fps AS (
      SELECT doc_id, skey, skey // {_WINNOW_POSM} AS fph FROM sel
    ), shared AS (
      SELECT fph FROM (SELECT fph, COUNT(DISTINCT doc_id) AS c
                       FROM fps GROUP BY fph) WHERE c >= 2
    ), per_doc AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_selected,
             CAST(COUNT(DISTINCT CASE WHEN s.fph IS NOT NULL THEN f.fph END)
                  AS BIGINT) AS n_shared_fp
      FROM fps f LEFT JOIN shared s ON s.fph = f.fph
      GROUP BY f.doc_id
    ), sizes AS (
      SELECT doc_id,
             CAST(GREATEST(len(ws) - {_WINNOW_K - 1}, 0) AS BIGINT) AS n_kgrams
      FROM words
    )
    SELECT z.doc_id, z.n_kgrams,
           COALESCE(p.n_selected, 0) AS n_selected,
           COALESCE(p.n_shared_fp, 0) AS n_shared_fp,
           CAST(COALESCE(p.n_selected, 0) AS DOUBLE)
             / NULLIF(CAST(CASE WHEN z.n_kgrams >= 1
                                THEN GREATEST(z.n_kgrams - {_WINNOW_W - 1}, 1)
                                ELSE 0 END AS DOUBLE), 0) AS winnow_density
    FROM sizes z LEFT JOIN per_doc p USING (doc_id)
    ORDER BY z.doc_id
    """,
    covers=["M6-text", "M6-dedup"],
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing document fingerprints (Schleimer et al. 2003 —
    the MOSS algorithm): hash every {_WINNOW_K}-word shingle, slide a
    window of {_WINNOW_W} consecutive hashes, and select each window's
    minimum (ties to the rightmost position).  Any copied passage of
    >= k+w-1 words between two documents is GUARANTEED to share a
    selected fingerprint — the coverage guarantee MinHash sampling
    lacks — at ~2/(w+1) storage density.  Emits per doc the shingle
    count, selected-fingerprint count, how many of its fingerprints
    are shared with other documents, and the selection density.

    Exactness: hashes are the portable md5-prefix bigint
    (`sketches._hash32` scheme); min-with-rightmost-tie-break is
    encoded into ONE integer key (hash * 2^20 + (2^20 - pos), so
    integer MIN picks min hash then max pos) — order-independent
    integer aggregation, nothing float but the final density division.

    Scale: the shingle fan-out is one partition-local posexplode (docs
    pre-hashed on doc_id, so the selection window's sort reuses the
    same partitioning — ONE shuffle total before the thinned
    fingerprint set); selection itself is a per-doc integer frame MIN,
    and the shared-fingerprint arm is one groupBy on the fingerprint
    hash with map-side combine over ~2/(w+1) of shingle volume.
    Engineering note (measured round 7): the tempting array-local form
    — `transform(window_starts, p -> array_min(slice(keys, p, w)))` —
    is O(shingles²) per doc, because Catalyst inlines the free `keys`
    array expression into the lambda and re-evaluates EVERY hash per
    window start; the sf1 probe ran >10 min before the relational
    rewrite brought it back to seconds.  Nested array lambdas over a
    free-variable array are a re-evaluation trap; explode + frame
    aggregate is the scalable spelling (mirrors the oracle exactly)."""
    # split BEFORE the repartition: the exchange materializes the words
    # array, so `_ngram_array`'s lambda reads a bound column instead of
    # re-evaluating split(text) per position (the same re-evaluation
    # trap as the selection rewrite, one level down — measured ~2x on
    # the kgram build)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
    )
    kg = _ngram_array(F.col("ws"), _WINNOW_K)
    base = docs.select("doc_id", kg.alias("kg"))
    pos1 = F.col("i0") + 1
    # positions are capped at _WINNOW_POSM - 1 on BOTH sides: the
    # combined key h*POSM + (POSM - i) only keeps min-hash-then-
    # rightmost ordering while 1 <= i < POSM (beyond it the position
    # term underflows into the next hash block and, for h = 0, goes
    # negative — where Spark DIV truncates but DuckDB // floors).
    # Docs longer than 2^20 shingles (~4 M words) are fingerprinted on
    # their first 2^20 shingles; production would split such docs.
    kgr = base.select(
        "doc_id", F.posexplode("kg").alias("i0", "g")
    ).filter(pos1 < _WINNOW_POSM).select(
        "doc_id",
        pos1.alias("i"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("winnow:"), F.col("g"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            * F.lit(_WINNOW_POSM)
            + (F.lit(_WINNOW_POSM) - pos1)
        ).alias("key"),
    )
    w_doc = Window.partitionBy("doc_id")
    winmin = kgr.select(
        "doc_id",
        "i",
        F.count("*").over(w_doc).alias("m"),
        F.min("key")
        .over(w_doc.orderBy("i").rowsBetween(0, _WINNOW_W - 1))
        .alias("skey"),
    )
    fps = (
        winmin.filter(
            F.col("i")
            <= F.greatest(F.col("m") - F.lit(_WINNOW_W - 1), F.lit(1))
        )
        .select("doc_id", "skey")
        .distinct()
        .withColumn("fph", F.expr(f"skey DIV {_WINNOW_POSM}"))
    )
    # (doc, fph) grain carries everything both downstream arms need:
    # n_sel (position-distinct selections of this hash in this doc) for
    # n_selected, and the grain itself for doc-frequency.  Checkpointed
    # because BOTH arms consume it — without this the full explode +
    # window + distinct pipeline runs twice (the CLAUDE.md two-consumer
    # rule; ~2x wall measured).  The frame is the ~2/(w+1)-thinned
    # fingerprint set collapsed to (doc, hash) — the same bounded
    # intermediate the iterative dedup ops checkpoint.
    g = materialize(
        fps.groupBy("doc_id", "fph")
        .agg(F.count("*").alias("n_sel"))
    )
    shared = (
        g.groupBy("fph")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("fph", F.lit(1).alias("sh"))
    )
    per_doc = (
        g.join(shared, "fph", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sel").cast("bigint").alias("n_selected"),
            F.count(F.when(F.col("sh") == 1, F.col("fph")))
            .cast("bigint")
            .alias("n_shared_fp"),
        )
    )
    n_windows = F.when(
        F.col("n_kgrams") >= 1,
        F.greatest(F.col("n_kgrams") - F.lit(_WINNOW_W - 1), F.lit(1)),
    ).otherwise(F.lit(0))
    return (
        base.select(
            "doc_id", F.size("kg").cast("bigint").alias("n_kgrams")
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
            F.coalesce("n_shared_fp", F.lit(0)).cast("bigint").alias("n_shared_fp"),
            (
                F.coalesce("n_selected", F.lit(0)).cast("double")
                / F.nullif(n_windows.cast("double"), F.lit(0.0))
            ).alias("winnow_density"),
        )
        .orderBy("doc_id")
    )
