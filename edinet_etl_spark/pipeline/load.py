"""CSV sink (S7/S8 in SURVEY.md §2.1).

Reference behavior (``/root/reference/src/load.py:8-31``): mkdir -p,
refuse to write an empty frame (warn), write one UTF-8 CSV with
header and no index; write errors are logged, not raised
(``tests/test_load.py:48-59`` pins that).

Spark-first shape: ``df.write.csv`` with header, always after
``coalesce(1)`` — one file, the reference's output shape.

The input is persisted around the empty guard: ``isEmpty()`` is an
action, and on an un-cached plan it would execute the ENTIRE upstream
pipeline (including the rate-limited HTTP fetch islands) once for the
probe and again for the write — double API quota, and two executions
that could see different data through the retry-swallow path.  With
the persist, the probe materializes the data once and the write reads
it back.

Every write is observed with Spark's native Observation API: row
count, exact revenue total and null-revenue count are accumulated ON
the write pass itself (no second scan, no extra job) and go out as
``write_metrics`` on the sink's INFO log record.  The reference's
monitoring is log lines with hand-computed counts re-scanning the
frame (``src/extract.py:35,63-65``,
``src/transform.py:141-144``); at 100 TB a re-count of the output
would be a full second pass over the lake.  The revenue total is
summed in exact decimal (numeric.py discipline), so the metric is
reproducible run-to-run — usable as a data-quality gate, not just
telemetry.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def load_to_csv(df: DataFrame, output_path: str, file_name: str) -> str | None:
    """Write ``df`` under ``{output_path}/{file_name}``; returns the
    directory written, or None for empty input / write failure.

    Ordering matters: ``Observation.get`` captures the FIRST action on
    the observed plan, so the empty guard probes the RAW (persisted)
    frame and only the write touches the observed one — probing the
    observed plan would report the take(1) rows the probe consumed
    (one per partition), not the written output."""
    metrics_cols = [F.count(F.lit(1)).alias("n_rows")]
    if "revenue" in df.columns:
        metrics_cols += [
            F.sum(F.col("revenue").cast("decimal(38,0)"))
            .cast("string")
            .alias("revenue_total"),
            F.count(F.when(F.col("revenue").isNull(), 1)).alias("null_revenue"),
        ]
    df = df.persist()
    try:
        if df.isEmpty():  # S8 empty guard (src/load.py:20-22, main.py:33-35)
            logger.warning("DataFrame is empty. No file will be written.")
            return None
        obs = Observation("pipeline_write")
        out = df.observe(obs, *metrics_cols).coalesce(1)
        target = f"{output_path.rstrip('/')}/{file_name}"
        try:
            out.write.mode("overwrite").option("header", True).csv(target)
        except Exception as e:  # noqa: BLE001 — log-not-raise (test_load.py:48-59)
            logger.error("Failed to save data to %s: %s", target, e)
            return None
        metrics = dict(obs.get)
    finally:
        df.unpersist()
    logger.info(
        "Data successfully saved to %s: %s",
        target,
        metrics,
        extra={"write_metrics": metrics},
    )
    return target
