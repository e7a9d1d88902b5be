"""Benchmark of spark-graft: the EDINET pipeline end to end, and one
registered query from each operator module.

    python3 perfbench/run.py --workload NAME --seed N [--seconds S] [--trace 0|1]

Run from the root of a checkout.  ``--seconds`` defaults to
``run_seconds`` in ``BENCHMARK.json``.  Workloads (``perfbench/README.md``
says why each was chosen, how big it is and what it measured):

- ``edinet_pipeline``: ``pipeline.etl.run_pipeline``, CSV sink included,
  over a seeded synthetic EDINET corpus served by a zero-latency,
  disk-backed fetcher (``perfbench/edinet_corpus.py``);
- ``operator_queries``: passes over ``QUERIES``, one registered query
  per operator module, on seeded tables (``perfbench/tablegen.py``).

Every workload runs at local[nproc] in this one process: one client, a
closed loop.  The run makes its inputs from the seed (not timed), starts
the Spark session (``setup_s``) and times the workload in that session
(``wall_s``):

- ``edinet_pipeline``: the first ``run_pipeline``, what a batch job pays;
- ``operator_queries``: three passes, each query collected once a pass:
  the cold first pass, while the JVM loads and compiles what the queries
  need, and two warm ones.  A cold pass stretches with whatever CPU the
  compiler threads are denied, a warm one with how the JVM happened to
  compile, and the two vary apart, so their sum is steadier than either.

Every pass is checked: the pipeline CSV against the generator's
expected rows, each query result against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run: after one untimed pass, rounds of an
untraced, a traced and an untraced pass repeat until ``--seconds`` have
gone by.  In a traced pass each call into a layer runs under its own
Spark job group and span.  A layer the workload never calls reads 0.  Spans are written
to ``.perfbench_work/spans/`` at the end.  The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# One registered query per operator module, each cheap to check and run:
# scans, joins, aggregates and windows over the TPC-H-ish facts and the
# event stream first, then the dedup, vector, text, corpus, PII, sketch
# and graph operators.  sql_lateral_top2_orders runs 3 SQL executions a
# pass; lsh_bucket_ann runs 2, one of them an eager checkpoint.
QUERIES = (
    "pricing_summary",
    "best_order_per_customer",
    "salted_returnflag_totals",
    "bracketed_quantity_revenue",
    "promo_revenue_share",
    "sql_lateral_top2_orders",
    "user_sessions",
    "asof_latest_order_per_event",
    "exact_dedup",
    "lsh_bucket_ann",
    "tfidf_top_terms",
    "source_mix_report",
    "pii_redaction_report",
    "cms_sketch_counts",
    "copurchase_degree_stats",
)
QUERY_TABLES = ("lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events", "documents", "embeddings")
QUERY_SF = 0.01
WARM_PASSES = 2

PIPELINE_DOCS = 600
PIPELINE_FILLER = 40

MODULES = (
    "relational", "reference_ops", "analytics", "tpch_rest", "subqueries", "sql_api",
    "events", "temporal", "dedup", "similarity", "text", "llmdata", "pii", "sketches", "graph",
)
MODULE_UNITS = {"wall_s": "s", "sql_execs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}
PIPELINE_LAYER_UNITS = {
    "company_master.self_s": "s",
    "company_master.rows_out": "count",
    "edinet_api.list.self_s": "s",
    "edinet_api.list.docs_out": "count",
    "edinet_api.filter.docs_out": "count",
    "edinet_api.download.self_s": "s",
    "edinet_api.download.docs_out": "count",
    "edinet_api.fetch_calls": "count",
    "edinet_api.fetch_retries": "count",
    "edinet_api.fetch_calls_per_key": "ratio",
    "zip_extract.self_s": "s",
    "zip_extract.filings_out": "count",
    "transform.parse.self_s": "s",
    "transform.facts_out": "count",
    "transform.enrich.self_s": "s",
    "transform.rows_out": "count",
    "load.sink_s": "s",
    "load.sql_execs": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.task_skew": "ratio",
    "pipeline.single_task_stages": "count",
}
QUERY_LAYER_UNITS = {
    "tables.scan_s": "s",
    **{f"operators.{m}.{f}": u for m in MODULES for f, u in MODULE_UNITS.items()},
    **{f"query.{q}.wall_s": "s" for q in QUERIES},
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    **QUERY_LAYER_UNITS,
    **PIPELINE_LAYER_UNITS,
}
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s"}


class Run:
    """Bookkeeping shared by the workloads: attempts, failures and the
    samples behind each metric."""

    def __init__(self, seconds: float, trace: bool, run_id: str):
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.tracer = None
        if trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(run_id)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def median(self, name: str) -> float:
        vals = self.samples.get(name)
        if not vals:
            raise RuntimeError(f"no successful sample of {name}: every attempt behind it failed")
        return statistics.median(vals)

    def until_done(self):
        """Yield pass numbers until ``seconds`` have gone by (at least one);
        a pass that starts before then runs to its end."""
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n == 0 or time.perf_counter() < t_end:
            yield n
            n += 1


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample_overhead(run: Run, before: float | None, traced: float | None, after: float | None) -> None:
    """Tracing overhead: a traced pass minus the mean of the untraced
    passes on either side, which cancels the speed-up of a still warming
    JVM."""
    if None not in (before, traced, after):
        run.sample("trace.overhead_s", traced - (before + after) / 2)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _log_failure(what: str) -> None:
    _log(f"{what} failed:\n{traceback.format_exc()}")


# ------------------------------------------------------------ query set


class QueryWorkload:
    layers = QUERY_LAYER_UNITS

    def prepare(self, work: Path, seed: int) -> None:
        """Seeded tables plus each query's oracle hash (DuckDB)."""
        import duckdb

        from edinet_etl_spark import registry
        from perfbench.tablegen import TABLE_NAMES, write_tables
        from tools.verify_driver_contract import canon

        self.sf_dir = str(write_tables(work / "tables", QUERY_SF, seed))
        registry.load_all()
        self.fns = {q: registry.QUERIES[q] for q in QUERIES}
        self.module = {q: self.fns[q].__module__.rsplit(".", 1)[-1] for q in QUERIES}
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.oracle = {}
            for q in QUERIES:
                rows = con.execute(registry.ORACLES[q]).fetchall()
                self.oracle[q] = (len(rows), canon([d[0] for d in con.description], rows))
        finally:
            con.close()
        self.canon = canon

    def _checked_pass(self, spark, run: Run, what: str) -> dict[str, float]:
        """Each query collected once, its result checked against its
        oracle after its timer stops; each query's wall time.  A query
        that raises ends the run."""
        walls = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            df = self.fns[q](spark, self.sf_dir)
            rows = df.collect()
            walls[q] = time.perf_counter() - t0
            ok = (len(rows), self.canon(df.columns, [tuple(r) for r in rows])) == self.oracle[q]
            if not ok:
                _log(f"{q}: result differs from its oracle")
            run.record(ok)
        _log(f"{what} {sum(walls.values()):.2f} s: " + " ".join(f"{q}={dt:.2f}" for q, dt in walls.items()))
        return walls

    def measure(self, spark, run: Run) -> float:
        """The cold first pass and ``WARM_PASSES`` warm ones, summed."""
        passes = [self._checked_pass(spark, run, "cold pass")]
        passes += [self._checked_pass(spark, run, f"warm pass {n + 1}") for n in range(WARM_PASSES)]
        return sum(sum(p.values()) for p in passes)

    def run_pass(self, spark, run: Run, stats: QueryStats | None = None) -> float | None:
        """One noop-sink pass; returns its summed wall time, or None if a
        query raised.  With ``stats`` each query runs under its own job
        group and span, and its stage metrics are read after its timer
        stops."""
        walls = {}
        failed = False
        for q in QUERIES:
            if stats is not None:
                stats.begin(q)
            try:
                if stats is not None:
                    with run.tracer.span(f"operators.{self.module[q]}/{q}"):
                        dt = _timed(lambda q=q: _noop(self.fns[q](spark, self.sf_dir)))
                else:
                    dt = _timed(lambda q=q: _noop(self.fns[q](spark, self.sf_dir)))
                ok = True
            except Exception:  # noqa: BLE001 — a failing query is counted, the run goes on
                _log_failure(q)
                ok, dt = False, 0.0
            run.record(ok)
            failed |= not ok
            walls[q] = dt
            if stats is not None:
                stats.end(self.module[q], q, dt if ok else None)
        return None if failed else sum(walls.values())

    def trace(self, spark, run: Run) -> dict[str, float]:
        from edinet_etl_spark.tables import load

        self._checked_pass(spark, run, "cold pass")  # the rounds start warm
        stats = QueryStats(spark)
        for _ in run.until_done():
            with run.tracer.span("tables"):
                scan = sum(_timed(lambda t=t: _noop(load(spark, self.sf_dir, t))) for t in QUERY_TABLES)
            before = self.run_pass(spark, run)
            stats.start_pass()
            with run.tracer.span("pass"):
                traced = self.run_pass(spark, run, stats=stats)
            after = self.run_pass(spark, run)
            _sample_overhead(run, before, traced, after)
            run.sample("tables.scan_s", scan)
        return {
            "tables.scan_s": run.median("tables.scan_s"),
            "trace.overhead_s": run.median("trace.overhead_s"),
            **stats.layer_metrics(),
        }


class QueryStats:
    """Per-module stage statistics over the traced passes."""

    def __init__(self, spark):
        from perfbench.trace import StageMetrics

        self.metrics = StageMetrics(spark)
        self.passes: list[dict] = []
        self.query_wall: dict[str, list[float]] = {}

    def start_pass(self) -> None:
        self.passes.append({})

    def begin(self, query: str) -> None:
        self.metrics.drain()
        self.group = f"query:{query}"
        self.metrics.set_group(self.group)
        self.mark = self.metrics.sql_exec_count()

    def end(self, module: str, query: str, wall: float | None) -> None:
        """Close the query's group; ``wall`` is None when it failed."""
        from perfbench.trace import GroupStats

        s = self.metrics.group_stats(self.group, self.mark)
        self.metrics.clear_group()
        if wall is None:
            return
        s.wall_s = wall
        self.passes[-1].setdefault(module, GroupStats()).add(s)
        self.query_wall.setdefault(query, []).append(wall)

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for module in {m for p in self.passes for m in p}:
            rows = [p[module] for p in self.passes if module in p]
            for f in ("wall_s", "sql_execs", "shuffle_write_mb", "spill_mb", "task_skew"):
                out[f"operators.{module}.{f}"] = statistics.median(getattr(r, f) for r in rows)
        for q in QUERIES:
            if q not in self.query_wall:
                raise RuntimeError(f"no successful traced pass of {q}")
            out[f"query.{q}.wall_s"] = statistics.median(self.query_wall[q])
        return out


# ------------------------------------------------------------ pipeline


class PipelineWorkload:
    layers = PIPELINE_LAYER_UNITS

    def prepare(self, work: Path, seed: int) -> None:
        from perfbench.edinet_corpus import build_corpus, expected_output

        self.corpus = build_corpus(work / "corpus", seed, PIPELINE_DOCS, PIPELINE_FILLER)
        self.expected = expected_output(self.corpus)
        self.out_dir = work / "out"

    def _start(self, spark) -> None:
        from edinet_etl_spark.pipeline.config import PipelineConfig
        from perfbench.edinet_corpus import END_DATE, MAX_RETRIES, START_DATE, CorpusFetcher

        sc = spark.sparkContext
        self.calls, self.retries = sc.accumulator(0), sc.accumulator(0)
        self.fetcher = CorpusFetcher(self.corpus.root, self.corpus.failures, self.calls, self.retries)
        self.cfg = PipelineConfig(
            csv_file=self.corpus.master_csv,
            output_dir=str(self.out_dir),
            start_date=START_DATE,
            end_date=END_DATE,
            request_per_second=0,
            max_retries=MAX_RETRIES,
            retry_delay=0.001,
            companies_to_get=None,
        )

    def _check(self, written: str | None) -> bool:
        import csv

        rows: Counter = Counter()
        if written is not None:
            for part in sorted(Path(written).glob("part-*.csv")):
                with part.open(newline="", encoding="utf-8") as f:
                    reader = csv.reader(f)
                    next(reader, None)
                    rows.update(tuple(r) for r in reader)
        if rows != self.expected.rows:
            _log(f"pipeline output differs: {sum(rows.values())} rows, expected {sum(self.expected.rows.values())}")
            return False
        return True

    def _run_once(self, spark, run: Run) -> float | None:
        """One checked pipeline run; its wall time, or None if it failed."""
        from edinet_etl_spark.pipeline.etl import run_pipeline

        try:
            t0 = time.perf_counter()
            written = run_pipeline(spark, self.cfg, self.fetcher)
            dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failing run is counted, the benchmark goes on
            _log_failure("run_pipeline")
            run.record(False)
            return None
        ok = self._check(written)
        run.record(ok)
        return dt if ok else None

    def measure(self, spark, run: Run) -> float:
        """The first run: one checked ``run_pipeline``."""
        from edinet_etl_spark.pipeline.etl import run_pipeline

        self._start(spark)
        t0 = time.perf_counter()
        written = run_pipeline(spark, self.cfg, self.fetcher)
        dt = time.perf_counter() - t0
        run.record(self._check(written))
        return dt

    def _prefixes(self, spark):
        """The pipeline's lazy stages as cumulative prefixes, built from
        the same public functions ``pipeline.etl`` chains."""
        from edinet_etl_spark.pipeline import transform
        from edinet_etl_spark.sources import company_master, edinet_api, zip_extract
        from edinet_etl_spark.sources.edinet_api import RetryPolicy

        cfg = self.cfg
        policy = dict(max_retries=cfg.max_retries, retry_delay=cfg.retry_delay,
                      requests_per_second=cfg.request_per_second)
        companies = company_master.extract_companies(spark, cfg.csv_file)
        docs = edinet_api.list_documents(
            edinet_api.date_range(spark, cfg.start_date, cfg.end_date), self.fetcher,
            RetryPolicy(**policy), num_partitions=cfg.fetch_partitions)
        targeted = edinet_api.filter_documents(docs, companies, cfg.target_doc_types)
        downloads = edinet_api.download_documents(
            targeted, self.fetcher, companies_to_get=cfg.companies_to_get,
            policy=RetryPolicy(**policy, jitter_base=0.5), num_partitions=cfg.fetch_partitions)
        filings = zip_extract.extract_filings(downloads)
        facts = transform.revenue_facts(transform.select_best_filings(filings))
        final = transform.decode_and_enrich(facts, companies)
        return [
            ("company_master", companies), ("list", docs), ("filter", targeted),
            ("download", downloads), ("zip_extract", filings), ("facts", facts), ("rows", final),
        ]

    def _traced_prefixes(self, spark, run: Run, stats) -> bool:
        """Force each prefix with a noop write under its own job group,
        then the sink on the last one; sample each stage's self time
        (the difference between consecutive prefixes) and row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from edinet_etl_spark.pipeline.load import load_to_csv

        times, counts = {}, {}
        prefixes = self._prefixes(spark)
        with run.tracer.span("pipeline.prefixes"):
            for name, df in prefixes:
                obs = Observation(name)
                stats.drain()
                stats.set_group(f"prefix:{name}")
                with run.tracer.span(f"prefix/{name}"):
                    times[name] = _timed(lambda: _noop(df.observe(obs, F.count(F.lit(1)).alias("n"))))
                counts[name] = obs.get["n"]
            stats.drain()
            mark = stats.sql_exec_count()
            stats.set_group("load")
            with run.tracer.span("load.load_to_csv"):
                t0 = time.perf_counter()
                written = load_to_csv(prefixes[-1][1], str(self.out_dir / "sink"), "japan_company_data")
                sink = time.perf_counter() - t0
            stats.clear_group()
        ok = self._check(written) and counts == self.expected.stage_rows
        if counts != self.expected.stage_rows:
            _log(f"stage rows {counts} != expected {self.expected.stage_rows}")
        run.record(ok)
        if not ok:
            return False
        run.sample("load.sink_s", sink - times["rows"])
        run.sample("load.sql_execs", stats.group_stats("load", mark).sql_execs)
        run.sample("company_master.self_s", times["company_master"])
        run.sample("edinet_api.list.self_s", times["list"])
        run.sample("edinet_api.download.self_s", times["download"] - times["filter"])
        run.sample("zip_extract.self_s", times["zip_extract"] - times["download"])
        run.sample("transform.parse.self_s", times["facts"] - times["zip_extract"])
        run.sample("transform.enrich.self_s", times["rows"] - times["facts"])
        for key, name in (("company_master.rows_out", "company_master"), ("edinet_api.list.docs_out", "list"),
                          ("edinet_api.filter.docs_out", "filter"), ("edinet_api.download.docs_out", "download"),
                          ("zip_extract.filings_out", "zip_extract"), ("transform.facts_out", "facts"),
                          ("transform.rows_out", "rows")):
            run.sample(key, counts[name])
        return True

    def _traced_run(self, spark, run: Run, stats) -> float | None:
        """One checked ``run_pipeline`` under job group ``pipeline``;
        samples its fetch counts and stage statistics."""
        stats.drain()
        mark = stats.sql_exec_count()
        calls0, retries0 = self.calls.value, self.retries.value
        stats.set_group("pipeline")
        with run.tracer.span("pipeline.run_pipeline"):
            dt = self._run_once(spark, run)
        stats.clear_group()
        if dt is None:
            return None
        g = stats.group_stats("pipeline", mark)
        calls = self.calls.value - calls0
        run.sample("edinet_api.fetch_calls", calls)
        run.sample("edinet_api.fetch_retries", self.retries.value - retries0)
        run.sample("edinet_api.fetch_calls_per_key", calls / self.expected.fetch_calls)
        run.sample("pipeline.shuffle_write_mb", g.shuffle_write_mb)
        run.sample("pipeline.task_skew", g.task_skew)
        run.sample("pipeline.single_task_stages", g.single_task_stages)
        return dt

    def trace(self, spark, run: Run) -> dict[str, float]:
        from perfbench.trace import StageMetrics

        self._start(spark)
        stats = StageMetrics(spark)
        self._run_once(spark, run)  # the rounds start warm
        for _ in run.until_done():
            try:
                self._traced_prefixes(spark, run, stats)
            except Exception:  # noqa: BLE001 — a failing stage is counted, the benchmark goes on
                _log_failure("traced prefixes")
                stats.clear_group()
                run.record(False)
            before = self._run_once(spark, run)
            traced = self._traced_run(spark, run, stats)
            after = self._run_once(spark, run)
            _sample_overhead(run, before, traced, after)
        return {"trace.overhead_s": run.median("trace.overhead_s"), **{k: run.median(k) for k in PIPELINE_LAYER_UNITS}}


# ------------------------------------------------------------ entry point


WORKLOADS = {
    "edinet_pipeline": PipelineWorkload,
    "operator_queries": QueryWorkload,
}


def _spark_env(work: Path) -> None:
    """Keep Spark's scratch files inside ``work`` and its status stores
    large enough to hold every job of the run."""
    tmp = work / "tmp"
    (work / "spark-local").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from edinet_etl_spark.session import get_spark

    run_id = f"{workload}-{seed}-{os.getpid()}"
    work = WORK / run_id
    wl = WORKLOADS[workload]()
    r = Run(seconds, trace, run_id)
    try:
        _log(f"prepare {_timed(lambda: wl.prepare(work, seed)):.2f} s")
        _spark_env(work)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", len(os.sched_getaffinity(0)))
        start_s = time.perf_counter() - t0
        _log(f"session start {start_s:.2f} s")
        try:
            if trace:
                # the layers this workload never calls read 0
                metrics = {k: 0.0 for k in PER_LAYER_UNITS if k not in wl.layers}
                metrics.update({"session.start_s": start_s, **wl.trace(spark, r)})
                units = PER_LAYER_UNITS
            else:
                metrics = {"setup_s": start_s, "wall_s": wl.measure(spark, r)}
                _log(f"wall {metrics['wall_s']:.2f} s")
                units = END_TO_END_UNITS
        finally:
            _stop(spark)
        if r.tracer is not None:
            r.tracer.write(WORK / "spans" / f"{run_id}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def _run_seconds() -> float | None:
    try:
        return json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    except (OSError, ValueError, KeyError):
        return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=_run_seconds(),
                   help="how long a traced run's rounds go on (default: run_seconds in BENCHMARK.json)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds is None:
        p.error("--seconds is required when BENCHMARK.json gives no run_seconds")
    sys.path.insert(0, str(ROOT))
    try:
        import edinet_etl_spark  # noqa: F401
        import tools.verify_driver_contract  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a spark-graft checkout ({e})", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
