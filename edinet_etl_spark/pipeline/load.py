"""CSV sink (S7/S8 in SURVEY.md §2.1).

Reference behavior (``/root/reference/src/load.py:8-31``): mkdir -p,
refuse to write an empty frame (warn), write one UTF-8 CSV with
header and no index; write errors are logged, not raised
(``tests/test_load.py:48-59`` pins that).

Spark-first shape: ONE observed write, then a rename.  The frame is
written, with header and after ``repartition(1)`` (one file, the
reference's output shape), into a hidden staging dir unique to the
call, next to the target.  Spark's native Observation API counts rows
(plus an exact revenue total and null-revenue count) ON that write
pass — no probe job, no second scan — and the counts decide what
happens next:

- ``n_rows == 0``: the staging dir is deleted and the S8 warning
  logged; the target is never touched.
- otherwise the old target is deleted and the staging dir renamed onto
  it; the counts go out as ``write_metrics`` on the INFO record.

So the whole lazy pipeline — HTTP fetch islands included — runs
exactly once, and an earlier output survives both an empty frame and
a failed write.  A shuffle to one partition, not a coalesce: a
coalesce would pull the upstream stage (in ``run_pipeline``, the A1
walker island of ``transform.best_filing_facts``, which fetches,
unzips and parses each company's winning filing) into the single
write task; the shuffle keeps that stage parallel and only the small
final table is gathered.

The reference's monitoring is log lines with hand-computed counts
re-scanning the frame (``src/extract.py:35,63-65``,
``src/transform.py:141-144``); at 100 TB a re-count of the output
would be a full second pass over the lake.  The revenue total is
summed in exact decimal (numeric.py discipline), so the metric is
reproducible run-to-run — usable as a data-quality gate, not just
telemetry.

Error split: every directory operation (mkdir -p of the staging dir,
delete, rename) goes through the Hadoop ``FileSystem`` of the path, so
the sink works on any store Spark writes to.  A failure there —
including an ``output_path`` that is a regular file — is logged and
returns None, as the reference does.  The staging dir is made before
the write, so the write itself only evaluates the frame: an error
raised there (a bug in a fetch island, a failed ANSI cast) propagates,
it is not an I/O error to swallow.  The staging dir is removed on
every path.
"""

from __future__ import annotations

import logging
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


class _Dirs:
    """Directory operations through the Hadoop ``FileSystem`` of a path;
    a refused operation raises ``OSError``."""

    def __init__(self, df: DataFrame, path: str):
        sc = df.sparkSession.sparkContext
        self._path = sc._jvm.org.apache.hadoop.fs.Path
        self.fs = self._path(path).getFileSystem(sc._jsc.hadoopConfiguration())

    def mkdirs(self, path: str) -> None:
        if not self.fs.mkdirs(self._path(path)):
            raise OSError(f"cannot create {path}")

    def delete(self, path: str) -> None:
        p = self._path(path)
        if not self.fs.delete(p, True) and self.fs.exists(p):
            raise OSError(f"cannot delete {path}")

    def rename(self, src: str, dst: str) -> None:
        if not self.fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"cannot rename {src} to {dst}")


def load_to_csv(df: DataFrame, output_path: str, file_name: str) -> str | None:
    """Write ``df`` under ``{output_path}/{file_name}``; returns the
    directory written, or None for empty input / filesystem failure."""
    metrics_cols = [F.count(F.lit(1)).alias("n_rows")]
    if "revenue" in df.columns:
        metrics_cols += [
            F.sum(F.col("revenue").cast("decimal(38,0)"))
            .cast("string")
            .alias("revenue_total"),
            F.count(F.when(F.col("revenue").isNull(), 1)).alias("null_revenue"),
        ]
    root = output_path.rstrip("/")
    target = f"{root}/{file_name}"
    staging = f"{root}/.{file_name}-{uuid.uuid4().hex}"  # hidden, one per call
    try:
        dirs = _Dirs(df, root)
        dirs.mkdirs(staging)  # mkdir -p (src/load.py:17); fails if root is a file
    except (OSError, Py4JJavaError) as e:  # log-not-raise (test_load.py:48-59)
        logger.error("Failed to save data to %s: %s", target, e)
        return None
    try:
        obs = Observation("pipeline_write")
        out = df.observe(obs, *metrics_cols).repartition(1)
        # append: the staging dir exists, and is empty
        out.write.mode("append").option("header", True).csv(staging)
        metrics = dict(obs.get)
        if metrics["n_rows"] == 0:  # S8 empty guard (src/load.py:20-22, main.py:33-35)
            logger.warning("DataFrame is empty. No file will be written.")
            return None
        try:
            dirs.delete(target)
            dirs.rename(staging, target)
        except (OSError, Py4JJavaError) as e:
            logger.error("Failed to save data to %s: %s", target, e)
            return None
    finally:
        try:
            dirs.delete(staging)  # a no-op once renamed
        except (OSError, Py4JJavaError) as e:
            logger.error("Failed to remove staging dir %s: %s", staging, e)
    logger.info(
        "Data successfully saved to %s: %s",
        target,
        metrics,
        extra={"write_metrics": metrics},
    )
    return target
