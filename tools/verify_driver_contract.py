"""Driver-contract verification: simulate the round driver in a fresh
process — entry() smoke, per-query DuckDB hash-compare, hostile
session conf, alternate scale dirs.

Run: PYTHONPATH=. python tools/verify_driver_contract.py [query ...]
  (default: a cross-family sample; pass names to target a diff)
Env: SPARK_GRAFT_VERIFY_SF_DIR (default /root/testdata/sf0.01).

This mirrors the harness's CORRECTNESS gate (row count + schema +
order-insensitive value hash, floats by bit pattern) but runs under a
deliberately HOSTILE session (America/New_York timezone) so the
registry's conf pinning (`session.prep` on every query call) is
exercised, not assumed.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SAMPLE = [
    "revenue_by_nation_year",
    "pricing_summary",
    "minhash_lsh_candidates",
    "ivf_ann_topk",
    "pq_adc_topk",
    "text_stats",
    "pii_scrub_customers",
    "data_quality_checks",
    "triangle_count_copurchase",
    "streaming_tumbling_hourly",
    "streaming_quality_monitor",
    "kmv_distinct_estimate",
    # round-6 family representatives
    "edit_distance_near_pairs",
    "kcenter_coreset_selection",
    "zorder_data_skipping_audit",
    # round-9 family representatives (calendar-free KM grid + graph)
    "kaplan_meier_conversion",
    "label_propagation_communities",
    "copurchase_modularity",
]


def canon(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        return v.hex() if isinstance(v, float) else str(v)

    lines = sorted(",".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        # hostile on purpose: the registry's prep() must repin UTC
        .config("spark.sql.session.timeZone", "America/New_York")
        .getOrCreate()
    )
    import __spark_entry__ as e

    df = e.entry(spark)
    n = df.count()
    assert n > 0 and df.columns == ["nation", "order_year", "revenue", "n_items"]
    print(f"entry OK: {n} rows")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, os_ = e.queries(), e.oracle_sql()
    # `--all` sweeps the whole registry in driver order (the close-of-
    # round whole-registry driver-mirror run); names target a diff.
    if sys.argv[1:] == ["--all"]:
        names = list(qs)
    else:
        names = sys.argv[1:] or SAMPLE
    failed = []
    for name in names:
        sdf = qs[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        if name not in os_:
            print(f"{name}: rows-only ({len(srows)} rows)")
            continue
        res = con.execute(os_[name]).fetchall()
        ocols = [d[0] for d in con.description]
        ok = len(srows) == len(res) and canon(sdf.columns, srows) == canon(ocols, res)
        print(f"{name}: {'OK' if ok else 'MISMATCH'} ({len(srows)}/{len(res)} rows)")
        if not ok:
            failed.append(name)
    if failed:
        raise SystemExit(f"MISMATCH: {failed}")
    print("VERIFY OK")


if __name__ == "__main__":
    main()
