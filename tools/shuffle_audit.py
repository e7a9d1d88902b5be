"""Measured shuffle-volume audit: run queries at sf0.1 and report the
ACTUAL bytes crossing the wire, not plan-shape guesses.  The figures
are ``bench.time_query``'s statistics of each query's fastest rep
(``perfbench.trace.StageMetrics`` over the rep's job group, read from
Spark's status stores): shuffle MB written, spill MB, SQL executions
and task skew (slowest over median task time, summed over multi-task
stages; 1.0 is balanced).

The point at 100 TB: a query's cost is dominated by what it shuffles,
not what it scans.  This tool turns "the plan looks right" into
"the revenue flagship moves 4 MB for a 700 MB input".  Findings land
in SCALE.md.

Run: PYTHONPATH=. python tools/shuffle_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

DEFAULT = [
    "revenue_by_nation_year",
    "pricing_summary",
    "suppliers_kept_waiting",
    "minhash_lsh_candidates",
    "neardup_components",
    "user_sessions",
    "tfidf_top_terms",
    "doc_rarity_scores",
    "ivf_ann_topk",
    "pq_adc_topk",
    "triangle_count_copurchase",
    "sql_top_nation_per_region",
]


def main() -> None:
    import bench
    from edinet_etl_spark import registry
    from edinet_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    names = sys.argv[1:] or DEFAULT
    spark = get_spark()
    bench.warm(spark, names, sf_dir, "/root/testdata/sf0.001")
    print(
        f"{'query':38}{'shuffle MB':>12}{'spill MB':>10}"
        f"{'SQL execs':>11}{'task skew':>11}"
    )
    for n in names:
        _, _, t = bench.time_query(spark, n, sf_dir)
        print(
            f"{n:38}{t.shuffle_write_mb:>12.2f}{t.spill_mb:>10.2f}"
            f"{t.sql_execs:>11d}{t.task_skew:>11.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
