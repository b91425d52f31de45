"""The benchmark's workloads: inputs, one timed pass, checks, layer spans.

Each workload is driven from outside through the engine's public
functions. ``prepare`` writes the seeded inputs, ``run_pass`` runs one
iteration and returns its wall and CPU time (checking outputs outside the
timed window), and ``layer_metrics`` turns one traced iteration's spans
into per-layer numbers.

- ``etl_full_refresh``: ``plans.retail_pipeline.run`` into a fresh
  warehouse over a seeded retail CSV (the paper's own batch job).
- ``neardup_curation``: consumers of the session-scoped near-dup
  materializations, over a corpus snapshot the session has not seen
  before (a fresh copy per pass), each query to a ``noop`` sink.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import NamedTuple

from . import checks, datagen
from .trace import Span, Tracer, maybe_span, self_times

ETL_ROWS = 20_000
# The reference's quality gate: 400,000 of 541,909 raw rows, scaled.
ETL_MIN_ROWS = ETL_ROWS * 400_000 // 541_909
CORPUS_DOCS = 500

# Consumers of the two session-scoped materializations: q262 builds the
# verified-pair checkpoint (running the MinHash-LSH -> n-gram Jaccard
# ladder of q22/q21 itself), q263 builds the prefix index and q264 reuses
# it. The ladder's own queries and a second pair consumer are left out:
# with them a run no longer fits the benchmark's time budget.
CURATION_QUERIES = (
    "q262_incremental_components_materialized",
    "q263_prefix_pairs_materialized",
    "q264_prefix_report_materialized",
)

ETL_LAYERS = (
    "sources.retail_csv.ingest_s",
    "operators.clean.clean_s",
    "operators.clean.spark_jobs",
    "operators.dims.dim_upserts_s",
    "operators.fact.fact_refresh_s",
    "operators.fact.files_written",
    "operators.fact.bytes_written",
    "plans.quality.s",
    "plans.metadata.s",
    "plans.retail_pipeline.self_s",
    "plans.retail_pipeline.spark_jobs",
    "plans.stage_policy.retries",
)
CURATION_LAYERS = (
    "curation.plan_s",
    "curation.execute_s",
    *(f"curation.{q}.execute_s" for q in CURATION_QUERIES),
    "curation.shuffle_bytes",
    "curation.spill_bytes",
    "plans.dedup_queries.pairs_build_s",
    "plans.dedup_queries.prefix_index_build_s",
    "plans.dedup_queries.builds",
    "plans.dedup_queries.reuses",
)


class Timing(NamedTuple):
    """Seconds inside the timed window of one pass."""

    wall: float
    cpu: float


def cpu_clock(probe):
    """CPU seconds of the process tree; a zero clock without a probe."""
    return probe.cpu_seconds if probe is not None else (lambda: 0.0)


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def clear_session(spark) -> None:
    """Drop cached tables and every persisted RDD."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


class Outcome:
    """Operations attempted and the reasons any of them failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.errors: list[str] = []

    def record(self, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.errors.append(error)


class EtlFullRefresh:
    name = "etl_full_refresh"
    # a warm pass on a quiet 4-core host; sizes a run's pass count
    nominal_pass_s = 10.0

    def __init__(self, spark, probe, work_dir: str, outcome: Outcome):
        self.spark = spark
        self.probe = probe
        self.work = work_dir
        self.outcome = outcome
        self.csv = os.path.join(work_dir, "inputs", "online_retail.csv")
        self.expected: dict | None = None
        self.storage: list[float] = []
        self.layer_extra: dict[str, float] = {}
        self.check_s = 0.0

    def prepare(self, seed: int) -> None:
        os.makedirs(os.path.dirname(self.csv), exist_ok=True)
        datagen.retail_csv(self.csv, ETL_ROWS, seed)

    def check_inputs(self) -> None:
        t0 = time.perf_counter()
        self.expected = checks.etl_expected(self.csv)
        self.check_s = time.perf_counter() - t0

    @property
    def input_rows(self) -> int:
        return self.expected["raw_rows"]

    @property
    def input_bytes(self) -> int:
        return os.path.getsize(self.csv)

    def run_pass(self, i: int, tracer: Tracer | None = None) -> Timing:
        from retail_sales_etl_pipeline_spark.plans import retail_pipeline

        wh = os.path.join(self.work, f"warehouse-{i}")
        result = error = None
        cpu = cpu_clock(self.probe)
        t0, c0 = time.perf_counter(), cpu()
        try:
            with maybe_span(tracer, "plans.retail_pipeline.run"):
                result = retail_pipeline.run(self.spark, self.csv, wh, min_rows=ETL_MIN_ROWS)
        except Exception as e:  # noqa: BLE001 — a failed run is counted, not fatal
            error = f"{self.name} pass {i}: {type(e).__name__}: {e}"
        elapsed = Timing(time.perf_counter() - t0, cpu() - c0)
        if result is not None:
            bad = checks.etl_mismatches(result, self.expected)
            error = (f"{self.name} pass {i}: " + "; ".join(bad)) if bad else None
            self.storage.append(tree_bytes(wh, ".parquet")[1] / self.input_bytes)
            files, size = tree_bytes(os.path.join(wh, "fact_sales"), ".parquet")
            self.layer_extra = {
                "operators.fact.files_written": files,
                "operators.fact.bytes_written": size,
                "plans.stage_policy.retries": len(result.stage_attempts)
                - len({a.stage_name for a in result.stage_attempts}),
            }
        self.outcome.record(error)
        shutil.rmtree(wh, ignore_errors=True)
        clear_session(self.spark)
        return elapsed

    def install(self, tracer: Tracer) -> None:
        from retail_sales_etl_pipeline_spark.plans import quality, metadata, retail_pipeline

        tracer.wrap(retail_pipeline, "run_stage",
                    lambda spark, stage, *a, **k: f"plans.stage_policy.run_stage:{stage}")
        tracer.wrap(retail_pipeline, "clean_staging", "operators.clean.clean_staging")
        for mod, prefix in ((quality, "plans.quality"), (metadata, "plans.metadata")):
            for fn in ("null_counts", "validate_row_gate", "quality_log_rows",
                       "write_quality_log", "log_pipeline_run", "log_stage_metrics",
                       "log_stage_attempts"):
                if hasattr(mod, fn):
                    tracer.wrap(mod, fn, f"{prefix}.{fn}")

    def layer_metrics(self, all_spans: list[Span], iteration: int) -> dict[str, float]:
        selfs = self_times(all_spans)
        ids = [i for i, s in enumerate(all_spans) if s.iteration == iteration]
        spans = [all_spans[i] for i in ids]
        run = next(i for i in ids if all_spans[i].name == "plans.retail_pipeline.run")
        child_jobs = sum(s.counters.get("jobs", 0) for s in spans if s.parent == run)

        def total(pred) -> float:
            return sum(s.duration for s in spans if pred(s.name))

        clean = [s for s in spans if s.name == "operators.clean.clean_staging"]
        return {
            "sources.retail_csv.ingest_s": total(lambda n: n.endswith(":ingest_csv")),
            "operators.clean.clean_s": sum(s.duration for s in clean),
            "operators.clean.spark_jobs": sum(s.counters.get("jobs", 0) for s in clean),
            "operators.dims.dim_upserts_s": total(lambda n: n.endswith(":dim_upserts")),
            "operators.fact.fact_refresh_s": total(lambda n: n.endswith(":fact_full_refresh")),
            "plans.quality.s": total(lambda n: n.startswith("plans.quality.")),
            "plans.metadata.s": total(lambda n: n.startswith("plans.metadata.")),
            "plans.retail_pipeline.self_s": selfs[run],
            "plans.retail_pipeline.spark_jobs":
                all_spans[run].counters.get("jobs", 0) - child_jobs,
            **self.layer_extra,
        }


class NeardupCuration:
    name = "neardup_curation"
    nominal_pass_s = 7.0

    def __init__(self, spark, probe, work_dir: str, outcome: Outcome):
        self.spark = spark
        self.probe = probe
        self.work = work_dir
        self.outcome = outcome
        self.corpus = os.path.join(work_dir, "inputs", "corpus")
        self.n_docs = 0
        self.checker: checks.OracleChecker | None = None
        self.storage: list[float] = []
        self.layer_extra: dict[str, float] = {}
        self.check_s = 0.0
        self._built: set[object] = set()

    def prepare(self, seed: int) -> None:
        self.n_docs = datagen.documents(self.corpus, CORPUS_DOCS, seed)

    def check_inputs(self) -> None:
        """Oracle checks run on the first pass (see ``run_pass``)."""
        self.checker = checks.OracleChecker(self.corpus, ("documents",))

    @property
    def input_rows(self) -> int:
        return self.n_docs

    @property
    def input_bytes(self) -> int:
        return tree_bytes(self.corpus)[1]

    def run_pass(self, i: int, tracer: Tracer | None = None) -> Timing:
        import tempfile

        from retail_sales_etl_pipeline_spark.plans.registry import load_all

        registry = load_all()
        # A snapshot the session has not seen: the materialization caches
        # are keyed by corpus path, so a fresh copy forces fresh builds.
        snap = os.path.join(self.work, f"snapshot-{i}")
        shutil.copytree(self.corpus, snap)
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        tmp = os.path.join(snap, "tmp")
        os.makedirs(tmp)
        saved_tmp, tempfile.tempdir = tempfile.tempdir, tmp
        wh_before = tree_bytes(wh)[1]
        first_stage = self.probe.next_stage_id()
        wall = cpu = 0.0
        try:
            for q in CURATION_QUERIES:
                t = self._run_query(registry[q], snap, i, tracer)
                wall, cpu = wall + t.wall, cpu + t.cpu
                clear_session(self.spark)
        finally:
            tempfile.tempdir = saved_tmp
        written = tree_bytes(tmp)[1] + tree_bytes(wh)[1] - wh_before
        self.storage.append(written / self.input_bytes)
        if tracer is not None:
            self.layer_extra = self.probe.stage_bytes(first_stage, self.probe.next_stage_id())
        for t in self.spark.catalog.listTables():
            self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(snap, ignore_errors=True)
        return Timing(wall, cpu)

    def _run_query(self, query, snap: str, i: int, tracer: Tracer | None) -> Timing:
        error = None
        cpu = cpu_clock(self.probe)
        t0, c0 = time.perf_counter(), cpu()
        try:
            with maybe_span(tracer, f"curation.{query.name}.plan"):
                df = query.spark_fn(self.spark, snap)
            with maybe_span(tracer, f"curation.{query.name}.execute"):
                if i == 0:
                    # the warm-up pass collects its results for the oracle check
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            error = f"{query.name} pass {i}: {type(e).__name__}: {e}"
        elapsed = Timing(time.perf_counter() - t0, cpu() - c0)
        if error is None and i == 0:
            t1 = time.perf_counter()
            bad = self.checker.mismatch(query, result)
            self.check_s += time.perf_counter() - t1
            error = f"{query.name}: {bad}" if bad else None
        self.outcome.record(error)
        return elapsed

    def install(self, tracer: Tracer) -> None:
        from retail_sales_etl_pipeline_spark.plans import dedup_queries

        def note(span: Span, result: object) -> None:
            key = (span.name, str(result))
            span.counters["build"] = key not in self._built
            self._built.add(key)

        for fn in ("materialize_verified_pairs", "materialize_prefix_index"):
            tracer.wrap(dedup_queries, fn, f"plans.dedup_queries.{fn}", on_result=note)

    def layer_metrics(self, all_spans: list[Span], iteration: int) -> dict[str, float]:
        spans = [s for s in all_spans if s.iteration == iteration]

        def total(pred) -> float:
            return sum(s.duration for s in spans if pred(s.name))

        mats = [s for s in spans if s.name.startswith("plans.dedup_queries.")]
        builds = [s for s in mats if s.counters.get("build")]
        return {
            "curation.plan_s": total(lambda n: n.endswith(".plan")),
            "curation.execute_s": total(lambda n: n.endswith(".execute")),
            **{f"curation.{q}.execute_s": total(lambda n, q=q: n == f"curation.{q}.execute")
               for q in CURATION_QUERIES},
            "curation.shuffle_bytes": self.layer_extra.get("shuffle_bytes", 0),
            "curation.spill_bytes": self.layer_extra.get("spill_bytes", 0),
            "plans.dedup_queries.pairs_build_s": sum(
                s.duration for s in builds if s.name.endswith("verified_pairs")),
            "plans.dedup_queries.prefix_index_build_s": sum(
                s.duration for s in builds if s.name.endswith("prefix_index")),
            "plans.dedup_queries.builds": len(builds),
            "plans.dedup_queries.reuses": len(mats) - len(builds),
        }


WORKLOADS = {w.name: w for w in (EtlFullRefresh, NeardupCuration)}
