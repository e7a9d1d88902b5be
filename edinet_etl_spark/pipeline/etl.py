"""End-to-end EDINET ETL on Spark (SURVEY.md §3 lifecycle).

The reference's five eager stages (``/root/reference/main.py:13-40``)
become one lazy plan, run by one Spark action — the sink's observed
write:

1. **Ingestion** (UDF islands, executor-side HTTP): company master →
   date range → list fetch → semi-join filter → flag dispatch and
   head-N (metadata only).
2. **Analytics**: one island per fetch task walks each company's docs
   in best-filing (A1) order and fetches, unzips and parses only the
   first doc that yields a filing (``transform.best_filing_facts``);
   then relational year decode → dimension join → final table → CSV
   sink.  No filing bytes cross a shuffle.

Injection of ``Fetcher`` keeps every test offline (FIXTURES.md §B).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from edinet_etl_spark.pipeline.config import PipelineConfig
from edinet_etl_spark.pipeline.load import load_to_csv
from edinet_etl_spark.pipeline.transform import best_filing_facts, decode_and_enrich
from edinet_etl_spark.sources import company_master, edinet_api
from edinet_etl_spark.sources.edinet_api import Fetcher, RetryPolicy


def revenue_table(spark: SparkSession, cfg: PipelineConfig, fetcher: Fetcher) -> DataFrame:
    """Stages 1-5 (``main.py:15-31``) as one lazy plan: the final
    revenue table, before the sink."""
    companies = company_master.extract_companies(spark, cfg.csv_file)
    dates = edinet_api.date_range(spark, cfg.start_date, cfg.end_date)
    policy = RetryPolicy(
        max_retries=cfg.max_retries,
        retry_delay=cfg.retry_delay,
        requests_per_second=cfg.request_per_second,
    )
    docs = edinet_api.list_documents(
        dates, fetcher, policy, num_partitions=cfg.fetch_partitions
    )
    targeted = edinet_api.filter_documents(docs, companies, cfg.target_doc_types)
    facts = best_filing_facts(
        edinet_api.dispatch_head(targeted, cfg.companies_to_get),
        fetcher,
        replace(policy, jitter_base=0.5),
        cfg.fetch_partitions,
    )
    return decode_and_enrich(facts, companies)


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, fetcher: Fetcher
) -> str | None:
    """Full pipeline (``main.py:13-40``): returns the output dir, or
    None when no data survived (S8 guard)."""
    return load_to_csv(revenue_table(spark, cfg, fetcher), cfg.output_dir, "japan_company_data")


def main(argv: list[str] | None = None) -> int:
    """CLI entry (parity with the reference's ``main.py:13-40``):
    ``python -m edinet_etl_spark.pipeline.etl --csv-file ... --api-key
    ...``.  Runs the live pipeline; every setting mirrors a
    ``config/settings.env`` knob of the reference."""
    import argparse

    from edinet_etl_spark.session import get_spark
    from edinet_etl_spark.sources.edinet_api import HttpFetcher

    d = PipelineConfig()
    p = argparse.ArgumentParser(description="EDINET revenue ETL on Spark")
    p.add_argument("--csv-file", default=d.csv_file)
    p.add_argument("--output-dir", default=d.output_dir)
    p.add_argument("--start-date", default=d.start_date)
    p.add_argument("--end-date", default=d.end_date)
    p.add_argument("--base-url", default=d.base_url)
    p.add_argument("--api-key", default=d.api_key)
    p.add_argument("--companies-to-get", type=int, default=d.companies_to_get)
    p.add_argument("--request-per-second", type=float, default=d.request_per_second)
    a = p.parse_args(argv)
    cfg = PipelineConfig(
        base_url=a.base_url,
        api_key=a.api_key,
        csv_file=a.csv_file,
        output_dir=a.output_dir,
        start_date=a.start_date,
        end_date=a.end_date,
        companies_to_get=a.companies_to_get,
        request_per_second=a.request_per_second,
    )
    spark = get_spark("edinet-etl")
    out = run_pipeline(spark, cfg, HttpFetcher(cfg.base_url, cfg.api_key))
    print(out if out else "no data written")
    return 0 if out else 1


if __name__ == "__main__":
    raise SystemExit(main())
