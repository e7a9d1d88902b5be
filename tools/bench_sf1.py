"""Per-round sf1 bench continuity artifact (VERDICT r8 task 4).

Runs the EXACT bench.py harness (``bench.run``: same HEADLINE set, same
warm-up / best-of-N / state-drop discipline) against the 10× replica that
tools/scale_probe.py builds, and writes `BENCH_SF1_r{N}.json` at the
repo root: totals + per-query timings + the sf0.1-vs-sf1 ratio.  The
sf0.1 bench hides superlinear cliffs (the round-7 winnowing O(n²) trap
was only visible at 10×); committing this per round makes the 10×
continuity diffable instead of prose in SCALE.md.

Run: PYTHONPATH=. python tools/bench_sf1.py <round-number>
No side file is written, so the committed PLANHASHES.json stays the
sf0.1 close-out artifact.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys


def main() -> None:
    rnd = int(sys.argv[1])
    # 32 sf1 task working sets do not fit the 24g bench default
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from edinet_etl_spark import registry
    from edinet_etl_spark.session import get_spark
    from tools.scale_probe import DST, REPLICAS, build_sf1

    assert REPLICAS == 10, "bench_sf1 is the 10x rung; unset SPARK_GRAFT_PROBE_REPLICAS"
    build_sf1()

    registry.load_all()
    spark = get_spark("edinet-etl-spark-bench-sf1", cpus=bench.CPUS)
    result = bench.run(spark, bench.HEADLINE, DST, "/root/testdata/sf0.001")
    spark.stop()
    payload = json.loads(bench.line_bytes(result["queries"], result["value"], 1.0))
    # ratio vs the NEWEST committed sf0.1 round artifact (this round's
    # own BENCH_r{N}.json is written by the driver after close-out, so
    # mid-round this picks the previous round's official run)
    sf01_candidates = sorted(glob.glob("BENCH_r[0-9][0-9].json"))
    out = {"round": rnd, "replica_dir": DST, **payload}
    if sf01_candidates:
        out["sf01_source"] = sf01_candidates[-1]
        tail = json.load(open(sf01_candidates[-1])).get("tail", "")
        m = re.search(r'\{"metric".*\}', tail)
        if m:
            small = json.loads(m.group(0))
            shared = set(small["queries"]) & set(payload["queries"])
            out["sf01_total_shared"] = round(
                sum(small["queries"][q] for q in shared), 3
            )
            out["sf1_total_shared"] = round(
                sum(payload["queries"][q] for q in shared), 3
            )
            out["ratio_shared"] = round(
                out["sf1_total_shared"] / out["sf01_total_shared"], 3
            )
    dst = f"BENCH_SF1_r{rnd:02d}.json"
    with open(dst, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"{dst} written: total {out['value']} s over {len(out['queries'])} queries")


if __name__ == "__main__":
    main()
