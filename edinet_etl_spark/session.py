"""SparkSession construction tuned for this engine.

Local mode is a single JVM; on a real cluster the same confs hold, with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE
coalescing/skew-join left on.  Every conf here is scale-motivated:

- AQE re-plans at runtime (partition coalescing, skew-join splitting,
  broadcast conversion after size discovery) — essential at 100 TB where
  static estimates are wrong.
- Arrow makes every pandas-UDF boundary columnar.
- UTC session timezone pins timestamp semantics so results are
  byte-comparable against external engines (the DuckDB oracle, and any
  warehouse downstream).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "edinet_etl_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard confs."""
    n = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Pin session confs the query surface depends on, idempotently.

    The driver may hand us an arbitrary session; queries assume UTC
    timestamps (oracle comparability) and benefit from AQE.  The
    ``registry.query`` wrapper applies this before every registered
    query; the only other callers are the two public stream readers
    in ``streaming.jobs``.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage — the engine's one eager
    checkpoint.  A call site earns it only as a per-round loop cut, a
    nondeterminism pin, a measured-size gate, a stream-static side, or
    a costly frame whose consumers differ (SCALE.md's checkpoint site
    table).

    Where the blocks land is a setting Spark already owns: with a
    SparkContext checkpoint dir (``setCheckpointDir``, reliable
    storage) they survive the loss of an executor; without one they
    are executor-local."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


_SCRATCH: set[str] = set()


@atexit.register
def _remove_scratch() -> None:
    """Exit hook: remove every dir `scratch_dir` named in this process."""
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """The engine's one name for a per-session working directory:
    ``{tempdir}/edinet_{kind}_{md5(sf_dir|applicationId)[:12]}``.  It
    creates nothing, but records the path for the exit hook, so a
    session's scratch lives until its Python process exits (a lazy
    DataFrame over it stays readable until then).  Keying on the
    application id as well as the input directory keeps two sessions
    on the same data from overwriting each other's dirs while a lazy
    read-back is pending.

    Precondition: the path is driver-local, but Spark tasks write into
    it (and read it back).  That holds in local mode, where executors
    share the driver's file system; on a cluster the temp dir must be
    shared storage every executor sees."""
    tag = hashlib.md5(f"{sf_dir}|{spark.sparkContext.applicationId}".encode())
    d = os.path.join(tempfile.gettempdir(), f"edinet_{kind}_{tag.hexdigest()[:12]}")
    _SCRATCH.add(d)
    return d


def staged_dir(
    spark: SparkSession, sf_dir: str, kind: str, build: Callable[[str], None]
) -> str:
    """``scratch_dir(spark, sf_dir, kind)``, built once per session.

    If the dir exists it is complete: return it.  Otherwise
    ``build(staging)`` fills a fresh sibling dir, which is renamed into
    place, so a build that fails or is cancelled leaves nothing a later
    call would take for complete.  A concurrent builder that renamed
    first wins; this call drops its own staging dir and returns the
    winner's."""
    final = scratch_dir(spark, sf_dir, kind)
    if os.path.isdir(final):
        return final
    staging = tempfile.mkdtemp(
        prefix=f"{os.path.basename(final)}.staging-", dir=os.path.dirname(final)
    )
    try:
        build(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(final):  # a lost race is the only benign failure
            raise
    return final
