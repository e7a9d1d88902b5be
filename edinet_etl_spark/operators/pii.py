"""PII detection / redaction — the compliance pass every large-scale
training-data pipeline runs before anything ships.

Detector regexes are written in the Java-regex ∩ RE2 common subset
(char classes, bounded repeats, no backrefs/lookaround) so the SAME
pattern string drives Spark's codegen `regexp_replace`/`regexp_count`
and the DuckDB oracle (`regexp_extract_all` + 'g'-flag replace).  The
redaction itself is pure JVM-side string work — zero Python, zero
shuffle on the per-row path.

On the driver fixtures the live detector is ``numeric_id`` (TPC-H
names embed row ids: ``Customer#000000042``); email/IPv4/phone hit
synthetic strings in ``tests/test_pii.py`` through the very same
builders, so the patterns are proven even where the corpus is clean.

Reference analogue: the engine drops document identifiers it must not
propagate (/root/reference/src/transform.py:109-145 keeps only the
selected filing's rows); redaction generalizes that to span-level
removal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from edinet_etl_spark.registry import query
from edinet_etl_spark.session import materialize
from edinet_etl_spark.tables import load

# Ordered most-specific → least-specific: earlier detectors consume
# their spans before the bare digit-run detector can eat them.
# (name, pattern, replacement token)
PII_DETECTORS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IPV4>"),
    ("phone", "[0-9]{2,3}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
    ("numeric_id", "[0-9]{4,}", "<ID>"),
]


def scrub(col: Column) -> Column:
    """Masked text: every detector's spans replaced by its token, in
    detector order (Spark `regexp_replace` is global by default)."""
    out = col
    for _, pat, tok in PII_DETECTORS:
        out = F.regexp_replace(out, F.lit(pat), F.lit(tok))
    return out


def detector_counts(col: Column) -> list[Column]:
    """One `n_<detector>` BIGINT per detector.  Counts are measured on
    the progressively TOKEN-masked text — the identical replacement
    `scrub` applies — so the counts describe exactly the redactions in
    the shipped output (masking with '' instead would splice adjacent
    text and could mint matches scrub never masks)."""
    cols = []
    masked = col
    for name, pat, tok in PII_DETECTORS:
        cols.append(F.regexp_count(masked, F.lit(pat)).cast("bigint").alias(f"n_{name}"))
        masked = F.regexp_replace(masked, F.lit(pat), F.lit(tok))
    return cols


def _sql_scrub(expr: str) -> str:
    out = expr
    for _, pat, tok in PII_DETECTORS:
        out = f"regexp_replace({out}, '{pat}', '{tok}', 'g')"
    return out


def _sql_counts(expr: str) -> list[str]:
    cols = []
    masked = expr
    for name, pat, tok in PII_DETECTORS:
        cols.append(
            f"CAST(len(regexp_extract_all({masked}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        masked = f"regexp_replace({masked}, '{pat}', '{tok}', 'g')"
    return cols


_TOTAL = " + ".join(f"n_{n}" for n, _, _ in PII_DETECTORS)


def _total_col() -> Column:
    """Python mirror of the `_TOTAL` SQL string: sum of the per-
    detector count columns."""
    total = None
    for name, _, _ in PII_DETECTORS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return total


@query(
    "pii_scrub_customers",
    oracle=f"""
    WITH scanned AS (
      SELECT c_custkey, {_sql_scrub('c_name')} AS masked_name,
             {', '.join(_sql_counts('c_name'))}
      FROM customer
    )
    SELECT c_custkey, masked_name,
           {', '.join('n_' + n for n, _, _ in PII_DETECTORS)},
           ({_TOTAL}) > 0 AS has_pii
    FROM scanned
    """,
    covers=["M6-curation", "F5-F9"],
)
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row PII scrub of customer names: masked text plus one match
    count per detector and a has_pii flag.  The whole row transform is
    a chain of codegen regexp expressions — no shuffle, no Python; at
    100 TB this pass is scan-bound and embarrassingly parallel, and
    the detector list extends without changing the plan shape."""
    cust = load(spark, sf_dir, "customer")
    scanned = cust.select(
        "c_custkey",
        scrub(F.col("c_name")).alias("masked_name"),
        *detector_counts(F.col("c_name")),
    )
    total = _total_col()
    return scanned.select(
        "c_custkey",
        "masked_name",
        *[f"n_{n}" for n, _, _ in PII_DETECTORS],
        (total > 0).alias("has_pii"),
    )


@query(
    "pii_redaction_report",
    oracle=f"""
    WITH scanned AS (
      SELECT c_mktsegment,
             length(c_name) AS n0,
             length({_sql_scrub('c_name')}) AS n1,
             {', '.join(_sql_counts('c_name'))}
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ({_TOTAL}) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rows_with_pii,
           CAST(SUM({_TOTAL}) AS BIGINT) AS n_matches,
           CAST(SUM(n0 - n1) AS BIGINT) AS chars_delta
    FROM scanned
    GROUP BY c_mktsegment
    """,
    covers=["M6-curation", "A3"],
)
def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction audit card per market segment: rows scanned, rows
    with any PII hit, total matches, and the net character delta of
    masking (negative when tokens are longer than the spans they
    replace).  One partial-aggregated group-by over the scrubbed
    scan — the report a compliance reviewer signs off on."""
    cust = load(spark, sf_dir, "customer")
    scanned = cust.select(
        "c_mktsegment",
        F.length("c_name").alias("n0"),
        F.length(scrub(F.col("c_name"))).alias("n1"),
        *detector_counts(F.col("c_name")),
    )
    total = _total_col()
    return scanned.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(total > 0, 1).otherwise(0)).cast("bigint").alias("n_rows_with_pii"),
        F.sum(total).cast("bigint").alias("n_matches"),
        F.sum(F.col("n0") - F.col("n1")).cast("bigint").alias("chars_delta"),
    )


@query(
    "fuzzy_name_linkage",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS dirty_id,
             substr(c_name, 1,
                    CAST(('0x' || substr(md5('typo:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                         % length(c_name) AS INT))
             || substr(c_name,
                       CAST(('0x' || substr(md5('typo:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                            % length(c_name) AS INT) + 2)
               AS dirty_name
      FROM customer
    ), variants AS (
      SELECT DISTINCT c_custkey AS clean_id,
             substr(c_name, 1, CAST(i AS INT) - 1)
               || substr(c_name, CAST(i AS INT) + 1) AS variant
      FROM customer, UNNEST(generate_series(1, length(c_name))) t(i)
    ), matches AS (
      SELECT d.dirty_id, d.dirty_name, v.clean_id
      FROM dirty d JOIN variants v ON v.variant = d.dirty_name
    )
    SELECT dirty_id, dirty_name,
           CAST(MIN(clean_id) AS BIGINT) AS matched_id,
           CAST(COUNT(DISTINCT clean_id) AS BIGINT) AS n_candidates,
           MAX(CASE WHEN clean_id = dirty_id THEN 1 ELSE 0 END) = 1
             AS true_match_in_candidates
    FROM matches GROUP BY dirty_id, dirty_name
    """,
    covers=["M6-dedup", "J-extended", "PII-extended"],
)
def fuzzy_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD LINKAGE as a pure equi-join (the SymSpell deletion-
    neighborhood index): a dirty feed — every customer name with one
    deterministically-positioned character deleted — links back to the
    clean registry by joining the dirty string EXACTLY against the
    clean names' single-deletion variants.  No pairwise edit-distance
    scan anywhere: the index is O(n·L) generated variants
    (DISTINCT per record — zero-runs in these names collapse ~7×,
    bounding join fan-out) and the match is one hash equi-join, which is why this shape survives a
    100 TB registry where blocked-levenshtein crossJoins cannot
    (uniform prefixes make prefix blocking degenerate — exactly this
    fixture's 'Customer#000…' names).

    Ambiguity is surfaced, not hidden: n_candidates counts the clean
    names whose deletion neighborhoods contain the dirty string (the
    synthetic near-identical names collide on purpose — deleting the
    '1' from …010 and the tail '1' from …011 both yield …01*), and
    true_match_in_candidates reports whether the true source survived in
    the candidate set (always true by construction: the dirty string
    IS one of its own source's deletions).  matched_id is the
    deterministic min.  Every column is integer/string/bool — exact."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("typo:"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % F.length("c_name")
    ).cast("int")
    dirty = cust.withColumn("p", pos).select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.expr("substring(c_name, 1, p)"),
            F.expr("substring(c_name, p + 2, length(c_name))"),
        ).alias("dirty_name"),
    )
    # Round-11 note: the global DISTINCT here was twice re-spelled
    # shuffle-free (array_distinct in-row; a run-boundary filter — the
    # distinct variants are exactly one deletion position per maximal
    # equal-character run) and BOTH forms verified oracle-identical and
    # won or tied the variants stage in isolation — yet both LOST the
    # full query at the 10× rung (old 3.4-4.1 s vs 5.6-11.5 s; sf0.1
    # differences within the day's ±5% drift).  The broadcast build
    # from the post-aggregate side beats building straight off the
    # generate once the variant stream is millions of rows, and the
    # replica's name collisions make the post-join aggregate (14.8M
    # match rows at sf1) the real bound either way.  Kept the exchange;
    # the 10× rung rules (SCALE.md round-11; winnowing precedent).
    variants = cust.select(
        F.col("c_custkey").alias("clean_id"),
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("i"),
        "c_name",
    ).select(
        "clean_id",
        F.concat(
            F.expr("substring(c_name, 1, i - 1)"),
            F.expr("substring(c_name, i + 1, length(c_name))"),
        ).alias("variant"),
    ).distinct()
    matches = dirty.join(variants, dirty.dirty_name == variants.variant)
    return matches.groupBy("dirty_id", "dirty_name").agg(
        F.min("clean_id").cast("bigint").alias("matched_id"),
        F.countDistinct("clean_id").cast("bigint").alias("n_candidates"),
        (
            F.max(F.when(F.col("clean_id") == F.col("dirty_id"), 1).otherwise(0)) == 1
        ).alias("true_match_in_candidates"),
    )


@query(
    "pii_pseudonymize_customers",
    oracle="""
    WITH tok AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             'CUST_' || substr(md5('name-key:' || c_name), 1, 12) AS name_token,
             'KEY_' || substr(md5('key-salt:' || CAST(c_custkey AS VARCHAR)), 1, 12)
               AS key_token
      FROM customer
    )
    SELECT c_custkey, name_token, key_token, c_nationkey, c_mktsegment,
           CAST(COUNT(*) OVER (PARTITION BY name_token) AS BIGINT)
             AS token_collisions
    FROM tok
    ORDER BY c_custkey
    """,
    covers=["PII-pseudo", "F5"],
)
def pii_pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization — the OTHER half of the PII
    toolkit: where `pii_scrub_customers` destroys identifiers,
    this replaces them with stable keyed tokens so the anonymized
    table still JOINS (same person → same token across tables and
    runs, the property analytics-on-anonymized-data requires).  The
    `token_collisions` window is the built-in k-anonymity audit: a
    value > 1 means two names collided into one token (expected ~0 at
    48 bits; a spike means the token is too short for the corpus).

    Tokens are salted-md5 prefixes ('name-key:'/'phone-key:' stand in
    for rotated secret salts — rotating the salt re-keys the entire
    corpus in one pass).  Everything is codegen string work; the
    collision audit is one window over the token (the attribute
    cardinality), no joins.

    Scale: per-row hashing is embarrassingly parallel; the audit
    window shuffles on name_token — the profile `join_key_skew_profile`
    would run first if tokens could be hot (they cannot: md5)."""
    cust = load(spark, sf_dir, "customer")

    def token(prefix: str, salt: str, col: str) -> Column:
        return F.concat(
            F.lit(prefix),
            F.substring(F.md5(F.concat(F.lit(salt), F.col(col))), 1, 12),
        )

    tok = cust.select(
        "c_custkey",
        token("CUST_", "name-key:", "c_name").alias("name_token"),
        F.concat(
            F.lit("KEY_"),
            F.substring(
                F.md5(F.concat(F.lit("key-salt:"), F.col("c_custkey").cast("string"))),
                1,
                12,
            ),
        ).alias("key_token"),
        "c_nationkey",
        "c_mktsegment",
    )
    return tok.select(
        "c_custkey",
        "name_token",
        "key_token",
        "c_nationkey",
        "c_mktsegment",
        F.count("*")
        .over(Window.partitionBy("name_token"))
        .cast("bigint")
        .alias("token_collisions"),
    ).orderBy("c_custkey")


_KANON_K = 20


@query(
    "kanon_release_segment_stats",
    oracle=f"""
    WITH cells AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,8))) AS VARCHAR)
                  AS DOUBLE) AS total_balance
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, c.c_mktsegment
    )
    SELECT nation, segment, n_customers, total_balance
    FROM cells
    WHERE n_customers >= {_KANON_K}
    ORDER BY nation, segment
    """,
    covers=["PII-kanon", "A3", "J1"],
)
def kanon_release_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cell-size release — the statistical-disclosure-control
    gate on aggregate publication: per (nation, segment) cell, publish
    count and total balance ONLY when at least k=20 individuals
    contribute; smaller cells are SUPPRESSED entirely (the standard
    census-table rule; the released table can't single anyone out by
    cell membership).  Completes the privacy ladder: scrub destroys,
    pseudonymize re-keys, this gate controls what aggregates leave.

    Suppression is a plain filter on the exact count — declarative, so
    Catalyst pushes the whole thing into one aggregate + filter; the
    balance sum rides the decimal discipline.

    Scale: one map-side-combined aggregate on the cell key + a
    broadcast nation decode; the filter removes rows, never reads
    more.  At 100 TB the k-threshold maths is identical — suppression
    cost is zero because it happens after the collapse."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,8)"))
            .cast("string")
            .cast("double")
            .alias("total_balance"),
        )
    )
    return (
        cells.filter(F.col("n_customers") >= _KANON_K)
        .orderBy("nation", "segment")
    )


_LDIV_L = 5
_LDIV_BAND = 2000  # sensitive attribute: acctbal band width


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(FLOOR(c.c_acctbal / {_LDIV_BAND}) AS BIGINT) AS sens_band
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), cells AS (
      SELECT nation, segment,
             CAST(COUNT(*) AS BIGINT) AS n_individuals,
             CAST(COUNT(DISTINCT sens_band) AS BIGINT) AS n_distinct_sensitive,
             CAST(MAX(band_n) AS BIGINT) AS max_band_n
      FROM (SELECT nation, segment, sens_band,
                   COUNT(*) OVER (PARTITION BY nation, segment, sens_band)
                     AS band_n
            FROM tagged)
      GROUP BY nation, segment
    )
    SELECT nation, segment, n_individuals, n_distinct_sensitive,
           max_band_n,
           CAST(CASE WHEN n_distinct_sensitive >= {_LDIV_L}
                THEN 1 ELSE 0 END AS BIGINT) AS meets_l
    FROM cells
    ORDER BY nation, segment
    """,
    covers=["PII-kanon", "A3", "J1", "W-extended"],
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit — the disclosure-control check one
    rung above k-anonymity: a quasi-identifier cell (nation, segment)
    that is k-anonymous can still leak if everyone in it shares the
    same SENSITIVE value, so each cell must contain at least l=5
    distinct sensitive values (balance bands here).  `max_band_n`
    exposes the dominant band's size — the input to the stricter
    recursive-(c,l) variant.

    Scale: one aggregate on the cell key with a COUNT(DISTINCT) that
    Spark expands to a two-level partial aggregate (band collapse, then
    cell collapse) — both map-side combinable, no distinct-heavy
    shuffle of raw rows; the nation decode is a broadcast.  The audit
    reads each individual exactly once at any corpus size."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    tagged = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / _LDIV_BAND).cast("bigint").alias("sens_band"),
    )
    bands = tagged.groupBy("nation", "segment", "sens_band").agg(
        F.count("*").alias("band_n")
    )
    cells = bands.groupBy("nation", "segment").agg(
        F.sum("band_n").cast("bigint").alias("n_individuals"),
        F.count("*").cast("bigint").alias("n_distinct_sensitive"),
        F.max("band_n").cast("bigint").alias("max_band_n"),
    )
    return cells.select(
        "nation",
        "segment",
        "n_individuals",
        "n_distinct_sensitive",
        "max_band_n",
        F.when(F.col("n_distinct_sensitive") >= _LDIV_L, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("meets_l"),
    ).orderBy("nation", "segment")


# t-closeness (Li/Li/Venkatasubramanian 2007): the rung above
# l-diversity — a cell's SENSITIVE-value distribution must stay within
# EMD t of the global distribution.  Dials prefixed per CLAUDE.md;
# the sensitive attribute reuses the l-diversity acctbal banding.
_TCLOSE_T_NUM = 1  # threshold t = 1/5 = 0.2, kept as a ratio so the
_TCLOSE_T_DEN = 5  # meets_t test cross-multiplies in exact integers


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(FLOOR(c.c_acctbal / {_LDIV_BAND}) AS BIGINT) AS sens_band
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), cellband AS (
      SELECT nation, segment, sens_band, CAST(COUNT(*) AS BIGINT) AS a
      FROM tagged GROUP BY 1, 2, 3
    ), gband AS (
      SELECT sens_band, CAST(COUNT(*) AS BIGINT) AS b FROM tagged GROUP BY 1
    ), cells AS (
      SELECT nation, segment, CAST(SUM(a) AS BIGINT) AS n_g
      FROM cellband GROUP BY 1, 2
    ), dense AS (
      SELECT c.nation, c.segment, c.n_g, g.sens_band, g.b,
             COALESCE(cb.a, 0) AS a,
             CAST((SELECT SUM(b) FROM gband) AS BIGINT) AS n,
             CAST((SELECT COUNT(*) FROM gband) AS BIGINT) AS m
      FROM cells c CROSS JOIN gband g
      LEFT JOIN cellband cb
        ON cb.nation = c.nation AND cb.segment = c.segment
       AND cb.sens_band = g.sens_band
    ), pref AS (
      SELECT nation, segment, n_g, n, m,
             SUM(a) OVER (PARTITION BY nation, segment
                          ORDER BY sens_band) AS ca,
             SUM(b) OVER (PARTITION BY nation, segment
                          ORDER BY sens_band) AS cb
      FROM dense
    ), emd AS (
      SELECT nation, segment, n_g, n, m,
             CAST(SUM(ABS(ca * n - cb * n_g)) AS BIGINT) AS emd_num
      FROM pref GROUP BY 1, 2, 3, 4, 5
    )
    SELECT nation, segment, n_g AS n_individuals,
           CAST(emd_num AS DOUBLE) / (n_g * n * (m - 1)) AS emd,
           CAST(CASE WHEN emd_num * {_TCLOSE_T_DEN}
                      <= {_TCLOSE_T_NUM} * n_g * n * (m - 1)
                THEN 1 ELSE 0 END AS BIGINT) AS meets_t
    FROM emd ORDER BY nation, segment
    """,
    covers=["PII-kanon", "A-extended", "W-extended"],
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — completes the disclosure-control ladder
    (k-anonymity -> l-diversity -> t-closeness): even an l-diverse
    cell leaks if its sensitive-value DISTRIBUTION is skewed vs the
    population (everyone in the cell being in the top balance bands
    is itself a disclosure).  For the ORDERED sensitive attribute
    (acctbal bands, the l-diversity banding) the Earth Mover's
    Distance has the closed prefix form
    EMD = (1/(m-1)) * sum_i |cumP_cell(i) - cumP_global(i)|, and the
    whole quantity is computed as EXACT INTEGERS over the common
    denominator n_g*N: emd_num = sum |cumA_i*N - cumB_i*n_g| — one
    correctly-rounded division at the very end, and the meets_t
    verdict cross-multiplied so no float ever decides it.

    Scale: two map-side-combinable aggregates (cell x band, band),
    a dense cells x bands grid (|cells| * m rows — audit-sized, not
    data-sized), prefix windows on that grid.  The individuals are
    read exactly once at any corpus size."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    tagged = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / _LDIV_BAND).cast("bigint").alias("sens_band"),
    )
    cellband = tagged.groupBy("nation", "segment", "sens_band").agg(
        F.count("*").cast("bigint").alias("a")
    )
    # cellband is the collapsed audit grid (cells x present bands) and
    # feeds THREE branches (global bands, cell totals, dense join) —
    # constant-size, so materialize it once
    cellband = materialize(cellband)
    gband = cellband.groupBy("sens_band").agg(
        F.sum("a").cast("bigint").alias("b")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gband = gband.select(
        "sens_band", "b",
        F.sum("b").over(w_all).cast("bigint").alias("n"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
    )
    cells = cellband.groupBy("nation", "segment").agg(
        F.sum("a").cast("bigint").alias("n_g")
    )
    dense = (
        cells.join(F.broadcast(gband))
        .join(
            cellband.withColumnRenamed("a", "a0"),
            ["nation", "segment", "sens_band"],
            "left",
        )
        .select(
            "nation", "segment", "n_g", "sens_band", "b", "n", "m",
            F.coalesce(F.col("a0"), F.lit(0)).alias("a"),
        )
    )
    w_pref = Window.partitionBy("nation", "segment").orderBy("sens_band")
    pref = dense.select(
        "nation", "segment", "n_g", "n", "m",
        F.sum("a").over(w_pref).alias("ca"),
        F.sum("b").over(w_pref).alias("cb"),
    )
    emd = pref.groupBy("nation", "segment", "n_g", "n", "m").agg(
        F.sum(F.abs(F.col("ca") * F.col("n") - F.col("cb") * F.col("n_g")))
        .cast("bigint")
        .alias("emd_num")
    )
    den = F.col("n_g") * F.col("n") * (F.col("m") - 1)
    return emd.select(
        "nation",
        "segment",
        F.col("n_g").alias("n_individuals"),
        (F.col("emd_num").cast("double") / den).alias("emd"),
        F.when(F.col("emd_num") * _TCLOSE_T_DEN <= _TCLOSE_T_NUM * den, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("meets_t"),
    ).orderBy("nation", "segment")
