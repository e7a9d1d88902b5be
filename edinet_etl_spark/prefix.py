"""Distributed global prefix sums / row numbers over an ordered frame.

`Window.orderBy(...)` with no partition spec funnels EVERY row through
ONE task — fine on a collapsed grid (25 nations, a day grid), a silent
serialization cliff on a linear grain.  The round-10 boundedness lint
(tests/test_window_bounds.py) found five registered queries windowing
frames that grow ~linearly with SF (worst: `spearman_rank_corr`'s
59,821-row near-unique price domain at sf0.01); these helpers are the
scale-correct spelling they now share.

Construction (the classic two-level / range-partition prefix scan,
Blelloch 1990; what distributed SQL engines plan for cumulative
windows):

1. `repartitionByRange(P, order_by)` — contiguous, ordered key
   ranges; equal keys land in one partition.
2. stamp `spark_partition_id()` — evaluated in the post-exchange
   stage, so the id IS the range bucket.
3. per-partition totals → P-row frame → tiny unpartitioned window
   (bounded by the partition-count literal: the ONE serial step is
   O(P), not O(n)) → per-partition exclusive OFFSETS, broadcast.
4. per-partition cumulative window `partitionBy(pid) orderBy(keys)`
   + offset = the exact global prefix value.

The per-partition window re-shuffles by pid (hash) — one extra O(n)
distributed exchange in place of the O(n) single-task sort, the right
trade everywhere past toy scale.

The pid-stamped frame is EAGERLY CHECKPOINTED before fan-out, and this
is load-bearing for correctness, not a cost tweak: RangePartitioner
samples its boundaries with a seed derived from the RDD id, so two
executions of the "same" range exchange can bucket rows differently —
and Catalyst does NOT reuse the exchange here (the nondeterministic
``spark_partition_id()`` projections get distinct expression ids, so
the offsets subtree and the main subtree never canonicalize equal;
verified: without the checkpoint the helper returned a different U
statistic on every run).  The checkpoint materializes ONE bucket
assignment that both paths read.  The OUTPUT is invariant to where
the boundaries fall — any contiguous ordered bucketing yields the
same global prefix — so a per-run assignment is exact, the same way
the iterative operators' per-round checkpoints are.

Exactness: pure integer/decimal SUMs reassociated across partitions —
order-free for the exact types every caller feeds (BIGINT counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from edinet_etl_spark.session import materialize

# Grids at or under this many rows take the serial cumulative window;
# larger ones the two-level range scan (measured crossover: spearman's
# ~550k-row sf0.1 price grid was 0.5 s SLOWER serial, decile's 60k
# grid 0.2 s faster).
SERIAL_GRID_MAX = 131_072


def _cols(order_by: list) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def range_prefix_sums(
    df: DataFrame, order_by: list, values: dict[str, Column]
) -> DataFrame:
    """For each ``out: value`` pair, add ``out`` = SUM(value) over rows
    up to AND INCLUDING the current one in the global ``order_by``
    order — the scalable spelling of
    ``SUM(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)``.

    ``order_by`` (column names or sort Columns, e.g. ``F.desc("x")``)
    must be duplicate-free in ``df`` — every caller feeds a
    distinct-value collapse or a keyed frame.  With ties the running
    sum's intra-tie split would be frame-order-dependent in ANY
    engine, serial window included."""
    keys = _cols(order_by)
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for out, val in values.items():
        df = df.withColumn(f"_rp_{out}", val)
    # Materialize the collapsed grid ONCE, then pick the spelling by
    # its MEASURED size (the count reads the materialized blocks) — the
    # same gate-on-measured-rows pattern as the assortativity broadcast:
    #  * small grid → the plain serial cumulative window over the
    #    checkpointed blocks.  The round-10 bench caught the flat
    #    machinery cost of always range-partitioning
    #    (`decile_lift_table` +0.59 s at sf0.1 on a ~60k-row grid):
    #    an extra eager-checkpoint job, a sampling pass, a broadcast
    #    and a second window — all to parallelize a frame one task
    #    scans in milliseconds.
    #  * past `SERIAL_GRID_MAX` rows → the two-level range scan
    #    below, whose relative overhead vanishes exactly where the
    #    serial window cliffs.  Both
    #    spellings are the same exact integer algebra; the oracle
    #    differential runs green through either branch.
    # The checkpoint ALSO fixes a cost bug in the big branch:
    # RangePartitioner samples boundaries by executing its child once
    # before the shuffle executes it again, so the fact-table collapse
    # every caller feeds used to aggregate TWICE; sampling now reads
    # blocks.
    df = materialize(df)
    if df.count() <= SERIAL_GRID_MAX:
        w_ser = Window.orderBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        for out in values:
            df = df.withColumn(out, F.sum(f"_rp_{out}").over(w_ser))
        return df.drop(*[f"_rp_{out}" for out in values])
    # eager: ONE materialized bucket assignment for both consumers
    # (see module docstring — boundary sampling is per-execution)
    base = materialize(
        df.repartitionByRange(p, *keys)
        .withColumn("_rp_pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("_rp_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = base.groupBy("_rp_pid").agg(
        *[F.sum(f"_rp_{out}").alias(f"_rp_t_{out}") for out in values]
    )
    offs = offs.select(
        "_rp_pid",
        *[
            F.coalesce(F.sum(f"_rp_t_{out}").over(w_off), F.lit(0)).alias(
                f"_rp_o_{out}"
            )
            for out in values
        ],
    )
    w_in = (
        Window.partitionBy("_rp_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    res = base.join(F.broadcast(offs), "_rp_pid")
    for out in values:
        res = res.withColumn(
            out, F.col(f"_rp_o_{out}") + F.sum(f"_rp_{out}").over(w_in)
        )
    drop = ["_rp_pid"] + [
        c for out in values for c in (f"_rp_{out}", f"_rp_o_{out}")
    ]
    return res.drop(*drop)


def range_prefix_sum(
    df: DataFrame, order_by: list, value: Column, out: str
) -> DataFrame:
    """Single-value convenience form of :func:`range_prefix_sums`."""
    return range_prefix_sums(df, order_by, {out: value})


def range_row_number(df: DataFrame, order_by: list, out: str) -> DataFrame:
    """``out`` = 1-based global rank in ``order_by`` order — the
    scalable ``ROW_NUMBER() OVER (ORDER BY ...)``.  ``order_by`` must
    be a duplicate-free total order (callers tie-break on a key
    column, exactly as the serial spelling already had to for
    determinism)."""
    return range_prefix_sums(df, order_by, {out: F.lit(1).cast("bigint")})
