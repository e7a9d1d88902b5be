"""`session.materialize` on the reliable path: with a SparkContext
checkpoint dir set, eager checkpoints land in that dir and the queries
that lean on them still match their DuckDB oracles.

The run is a fresh subprocess because a SparkContext's checkpoint dir
cannot be unset: setting it on the shared test session would switch
every later test onto the reliable path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent

# one per-round-loop query (neardup fixpoint) and one prefix-helper
# query (measured-size gate + bucket pin)
_SCRIPT = textwrap.dedent(
    """
    import sys

    import duckdb

    from edinet_etl_spark import registry
    from edinet_etl_spark.session import get_spark
    from tests.conftest import TABLES, assert_matches_oracle

    sf_dir, ckpt = sys.argv[1], sys.argv[2]
    registry.load_all()
    spark = get_spark("materialize-reliable", cpus=2)
    spark.sparkContext.setCheckpointDir(ckpt)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in ("neardup_components", "mannwhitney_value_by_type"):
        df = registry.QUERIES[name](spark, sf_dir)
        assert_matches_oracle(df, con, registry.ORACLES[name], name=name)
    spark.stop()
    """
)


def test_materialize_uses_reliable_checkpoint_dir(tmp_path):
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_DIR, str(ckpt)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    written = [p for p in ckpt.rglob("*") if p.is_file()]
    assert written, f"no checkpoint files under {ckpt}"
