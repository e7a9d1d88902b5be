"""Plan-level assertions for the lake-layout claims in SCALE.md:
bucketed joins plan without Exchange; date partitioning produces
PartitionFilters pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edinet_etl_spark import layout
from edinet_etl_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    layout.write_bucketed_join_tables(
        spark, SF_DIR, str(tmp_path_factory.mktemp("wh"))
    )
    return spark


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(warehouse):
    spark = warehouse
    # AQE off for this check: with it on, the final plan string hides
    # inside AdaptiveSparkPlan until execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = layout.bucketed_join(spark)
        joined_plan = _plan(
            spark.table("lake.lineitem_bucketed").join(
                spark.table("lake.orders_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        assert "Exchange" not in joined_plan  # co-located buckets
        assert "SortMergeJoin" in joined_plan
        # and the result still matches the plain-table join
        plain = (
            load(spark, SF_DIR, "lineitem")
            .join(
                load(spark, SF_DIR, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_date_partition_pruning(spark, tmp_path):
    out = str(tmp_path / "events_by_date")
    layout.write_date_partitioned_events(spark, SF_DIR, out)
    day_df = layout.read_one_day(spark, out, "2024-01-03")
    plan = _plan(day_df)
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    # pruned read returns exactly that day's events
    expected = (
        load(spark, SF_DIR, "events")
        .filter(F.to_date("ts") == "2024-01-03")
        .count()
    )
    assert day_df.count() == expected


def test_compaction_reduces_file_count(spark, tmp_path):
    from edinet_etl_spark import layout

    frag = str(tmp_path / "fragmented")
    # fragment: 64 tiny files
    load(spark, SF_DIR, "orders").repartition(64).write.parquet(frag)
    import os

    n_in = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    assert n_in == 64
    out = str(tmp_path / "compacted")
    n_out = layout.compact(spark, frag, out)
    assert n_out == 1  # tiny table → single file at the 128MB target
    assert (
        spark.read.parquet(out).count()
        == load(spark, SF_DIR, "orders").count()
    )


def test_format_roundtrips_orc_jsonl(spark, tmp_path):
    """Format interchange: ORC (self-describing) and JSON-lines
    (schema-on-read) both round-trip the same rows; the JSON read uses
    an explicit schema (timestamps don't survive text inference)."""
    from edinet_etl_spark.layout import roundtrip_format
    from edinet_etl_spark.tables import load

    src = (
        load(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .limit(200)
    )
    expected = sorted(map(tuple, src.collect()))

    orc = roundtrip_format(src, str(tmp_path / "orc"), "orc")
    assert sorted(map(tuple, orc.collect())) == expected
    assert orc.schema == src.schema  # ORC carries types

    jsonl = roundtrip_format(
        src,
        str(tmp_path / "jsonl"),
        "json",
        schema="l_orderkey bigint, l_linenumber int, l_quantity double, "
        "l_shipdate timestamp_ntz",
    )
    assert sorted(map(tuple, jsonl.collect())) == expected


def test_zorder_file_skipping_beats_single_key_sort(spark, tmp_path):
    """The Z-order claim, measured from parquet footers: for a 2-D
    rectangle predicate (custkey range × date range), the Z-ordered
    layout's min/max stats prune strictly more files than the same
    file count laid out by a single-key sort — and both layouts must
    agree with the unpruned row count (skipping is lossless)."""
    sf = "/root/testdata/sf0.01"
    zdir, kdir = str(tmp_path / "z"), str(tmp_path / "k")
    layout.write_zordered_orders(spark, sf, zdir, n_files=16)
    layout.write_keysorted_orders(spark, sf, kdir, n_files=16)

    # the fixture's domains: custkeys 0..~1500, dates 1995..2001.
    # Workload = one narrow filter per dimension (the full key domain /
    # full date domain on the other axis).
    k_rect = ((1000, 1400), ("1990-01-01", "2005-12-31"))
    d_rect = ((0, 10_000), ("1996-01-01", "1996-12-31"))
    hits = {}
    for label, d in (("z", zdir), ("k", kdir)):
        hk, tot = layout.files_overlapping_rectangle(d, *k_rect)
        hd, tot2 = layout.files_overlapping_rectangle(d, *d_rect)
        assert tot == tot2 == 16
        hits[label] = (hk, hd)
    # single-key sort is perfect on its own dimension and useless on
    # the other (every file spans the full date range); Z-order prunes
    # BOTH dimensions, so it wins the two-query workload in total and
    # is the only layout that prunes the non-sort dimension at all.
    z_k, z_d = hits["z"]
    k_k, k_d = hits["k"]
    assert k_d == 16  # the baseline cannot prune dates
    assert z_d < 16   # Z-order can
    assert z_k < 16   # ... while still pruning custkey too
    assert z_k + z_d < k_k + k_d, hits

    # losslessness: both layouts return identical rows for the 2-D
    # intersection predicate
    pred = (
        (F.col("o_custkey").between(1000, 1400))
        & (F.col("o_orderdate").between("1996-01-01", "1996-12-31"))
    )
    n_z = spark.read.parquet(zdir).filter(pred).count()
    n_k = spark.read.parquet(kdir).filter(pred).count()
    n_base = load(spark, sf, "orders").filter(pred).count()
    assert n_z == n_k == n_base > 0


def test_zorder_value_interleaves_bits(spark):
    """Morton-code unit check: z(a=0b11, b=0) == 0b0101, z(0, 0b11)
    == 0b1010, and the code is monotone in each dim's high bits."""
    df = spark.range(1).select(
        layout.zorder_value(F.lit(3).cast("bigint"), F.lit(0).cast("bigint")).alias("za"),
        layout.zorder_value(F.lit(0).cast("bigint"), F.lit(3).cast("bigint")).alias("zb"),
        layout.zorder_value(F.lit(5).cast("bigint"), F.lit(6).cast("bigint")).alias("zc"),
    )
    r = df.collect()[0]
    assert r["za"] == 0b0101
    assert r["zb"] == 0b1010
    # 5 = 0b101, 6 = 0b110 → interleave(a bits even, b bits odd):
    # bit0(a)=1→z0, bit0(b)=0→z1, bit1(a)=0→z2, bit1(b)=1→z3,
    # bit2(a)=1→z4, bit2(b)=1→z5 → 0b110001 + 0b001000 = 0b111001
    assert r["zc"] == 0b111001


def test_dynamic_partition_overwrite_touches_only_its_day(spark, tmp_path):
    """Backfilling one day must not disturb the other date partitions
    (dynamic partitionOverwriteMode), and the table total must reflect
    exactly the replaced day."""
    out = str(tmp_path / "events_dyn")
    layout.write_date_partitioned_events(spark, SF_DIR, out)
    total_before = spark.read.parquet(out).count()
    day = "2024-01-03"
    day_before = layout.read_one_day(spark, out, day).count()
    assert day_before > 0
    # replacement slice: that day's events with value doubled, HALF the rows
    repl = (
        load(spark, SF_DIR, "events")
        .withColumn("event_date", F.to_date("ts"))
        .filter(F.col("event_date") == day)
        .filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.col("value") * 2)
    )
    n_repl = repl.count()
    assert 0 < n_repl < day_before
    layout.overwrite_one_day(spark, out, repl)
    after = spark.read.parquet(out)
    assert after.filter(F.col("event_date") == day).count() == n_repl
    # every other partition untouched
    assert after.count() == total_before - day_before + n_repl
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_apply_changes_semantics(spark):
    """apply_changes: last-writer-wins ordering, tombstones remove,
    insert-after-delete resurrects, untouched base rows survive."""
    from edinet_etl_spark.layout import apply_changes

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "key bigint, balance double"
    )
    changes = spark.createDataFrame(
        [
            # key 1: U then D  -> gone
            (1, "U", 11.0, 1), (1, "D", 0.0, 2),
            # key 2: D then I  -> resurrected with the later value
            (2, "D", 0.0, 1), (2, "I", 22.0, 2),
            # key 4: pure insert of an unseen key
            (4, "I", 44.0, 1),
            # key 5: insert then delete -> never materializes
            (5, "I", 55.0, 1), (5, "D", 0.0, 2),
        ],
        "key bigint, op string, balance double, seq bigint",
    )
    got = {
        r["key"]: r["balance"]
        for r in apply_changes(base, changes, "key", ["seq"]).collect()
    }
    assert got == {2: 22.0, 3: 30.0, 4: 44.0}


def test_ivf_partitioned_index_prunes(spark):
    """The persisted IVF index actually prunes at the STORAGE level: a
    cell-filtered read lists strictly fewer parquet files than the
    full index, and exactly the probed cell's directory."""
    from edinet_etl_spark import registry
    from edinet_etl_spark.session import scratch_dir

    registry.load_all()
    # build the index (query fn writes the session-scoped dir)
    registry.QUERIES["ivf_partitioned_index_topk"](spark, SF_DIR).collect()
    idx_dir = scratch_dir(spark, SF_DIR, "ivfidx")
    full = spark.read.parquet(idx_dir)
    cells = sorted(r["sid"] for r in full.select("sid").distinct().collect())
    assert len(cells) > 1
    one = full.filter(F.col("sid") == cells[0])
    # inputFiles() reports the RELATION's files pre-pruning; the files
    # a run actually touches are input_file_name() at execution time
    def touched(df):
        return {
            r["f"] for r in df.select(F.input_file_name().alias("f")).distinct().collect()
        }
    all_files = touched(full)
    one_files = touched(one)
    assert len(one_files) < len(all_files)
    assert all(f"sid={cells[0]}" in f for f in one_files)
    # and the static plan carries the partition filter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "sid" in plan.split("PartitionFilters: [", 1)[1][:80]


def test_dpp_plan_and_files(spark):
    """dynamic_partition_pruned_join really prunes: the fact scan
    carries a dynamicpruning subquery filter, and execution touches
    only the dim-matched date directories — fewer files than the lake
    holds."""
    import os

    from edinet_etl_spark import registry
    from edinet_etl_spark.session import scratch_dir

    registry.load_all()
    df = registry.QUERIES["dynamic_partition_pruned_join"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    matched_days = {str(r["event_date"]) for r in df.collect()}
    lake = scratch_dir(spark, SF_DIR, "dpplake")
    all_days = {d.split("=")[1] for d in os.listdir(lake) if d.startswith("event_date=")}
    assert len(matched_days) < len(all_days)
    # input_file_name() rejects multi-source plans: tag the fact side
    # BEFORE the join (same lake, same DPP-joined shape)
    fact = spark.read.parquet(lake).select(
        "event_date", F.input_file_name().alias("f")
    )
    dim = (
        load(spark, SF_DIR, "events")
        .filter((F.col("user_id") == 7) & (F.col("event_type") == "purchase"))
        .select(F.to_date("ts").alias("event_date"))
        .distinct()
    )
    touched = {
        r["f"] for r in fact.join(F.broadcast(dim), "event_date").select("f").distinct().collect()
    }
    touched_days = {f.split("event_date=")[1].split("/")[0] for f in touched}
    assert touched_days == matched_days


def test_bucketed_copurchase_edge_build_is_exchange_free(warehouse):
    """VERDICT r9 task 2b: `graph.copurchase_edges`' docstring names
    bucket-by-l_orderkey as the 100 TB co-location move for its
    lineitem SELF-join — prove it the way the fact-fact audit does.
    Over the bucketed layout the co-purchase pair self-join must plan
    with ZERO Exchange operators (both sides read the same co-located
    buckets); only the downstream DISTINCT keeps its dedup shuffle.
    The bucketed pair set must equal the plain-scan build."""
    spark = warehouse
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("lake.lineitem_bucketed").select(
            "l_orderkey", "l_partkey"
        )
        a, b = li.alias("a"), li.alias("b")
        joined = a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        join_plan = _plan(joined)
        assert "Exchange" not in join_plan  # co-located self-join
        assert "SortMergeJoin" in join_plan
        pairs_plan = _plan(joined.distinct())
        # exactly ONE exchange total: the distinct's dedup shuffle
        assert pairs_plan.count("Exchange") == 1
        # same pair set as the plain-scan edge build
        plain_li = load(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        pa, pb = plain_li.alias("a"), plain_li.alias("b")
        plain = (
            pa.join(
                pb,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("u"),
                F.col("b.l_partkey").alias("v"),
            )
            .distinct()
        )
        assert sorted(map(tuple, joined.distinct().collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_dpp_lake_rebuilt_after_failed_build(spark, oracle, tmp_path, monkeypatch):
    """A lake build that fails after creating its output dir leaves
    nothing a later call takes for complete: the next call rebuilds the
    lake and matches the oracle."""
    import os

    from edinet_etl_spark import registry
    from tests.conftest import SF_DIR as ORACLE_SF_DIR
    from tests.conftest import assert_matches_oracle

    registry.load_all()
    # a fresh sf_dir key, so no lake an earlier test built applies
    sf = tmp_path / "sf"
    sf.symlink_to(ORACLE_SF_DIR)
    real = layout.write_date_partitioned_events

    def fail_once(spark, sf_dir, out_dir):
        monkeypatch.setattr(layout, "write_date_partitioned_events", real)
        os.makedirs(out_dir, exist_ok=True)
        raise RuntimeError("lake build cancelled")

    monkeypatch.setattr(layout, "write_date_partitioned_events", fail_once)
    name = "dynamic_partition_pruned_join"
    with pytest.raises(RuntimeError, match="lake build cancelled"):
        registry.QUERIES[name](spark, str(sf))
    assert_matches_oracle(
        registry.QUERIES[name](spark, str(sf)), oracle, registry.ORACLES[name], name
    )
