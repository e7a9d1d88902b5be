"""Optimization probe: time queries in a FRESH process through the
bench's own loop (``bench.warm`` + ``bench.time_query``) and dump
`explain("formatted")` for the plan evidence in plans/r10/.

Run: PYTHONPATH=/root/repo python tools/opt_probe.py [--reps N]
     [--explain-dir plans/r10 --suffix before] query [query ...]

Prints one line per query: name, best, all reps.  Explain files are
written as <explain-dir>/<query>_<suffix>.txt when --suffix is given.
"""

from __future__ import annotations

import argparse
import os
import sys

import bench
from edinet_etl_spark import registry
from edinet_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default=None)
    args = ap.parse_args()

    registry.load_all()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("opt-probe")

    bench.warm(spark, args.queries, SF_DIR, WARM_DIR)
    for name in args.queries:
        runs, _, _ = bench.time_query(spark, name, SF_DIR, reps=args.reps)
        if args.explain_dir and args.suffix:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = registry.QUERIES[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(txt)
        print(
            f"PROBE {name}: best={min(runs):.3f}s runs="
            + ",".join(f"{r:.3f}" for r in runs),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
