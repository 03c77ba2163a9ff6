"""The benchmark's workloads.

Each workload is a closed loop: one client issues its operations one
after another on one Spark driver, and each operation starts only when
the previous one has finished. A *pass* runs every
operation of the workload once; the timed phase is a whole number of
passes, so every run measures the same multiset of operations whatever
the seed.

- ``registry_mix``: registry queries on fixed tables, cleaned up after
  every query and oracle-checked once per run.
- ``medallion_ingest``: the paper's Silver/Gold pipeline on seeded CSV
  batches, checked against the generator's counts and cleaned up after
  every pass.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import time
import types
from dataclasses import dataclass, field

import datagen
import stats
from spans import SparkCounters, StreamProgress, Tracer, instrument, restore


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    construct_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None


@dataclass
class PassResult:
    ops: list[Op]
    wall_s: float
    cleanup_s: float = 0.0
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    steal_share: float = 0.0


def _oracle():
    """``compare`` and ``duckdb_conn`` of the repository's
    ``tests/oracle.py``, loaded by path so no other ``tests`` package
    can shadow it."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare, mod.duckdb_conn


def cleanup(spark) -> None:
    """``bench.py``'s per-query cleanup plus ``release_cuts``: drop the
    query's cached plans, persisted RDD blocks and temp views so one
    operation's leftovers never slow the next."""
    from aws_callcenter_delta_lakehouse_spark.operators.materialize import release_cuts

    spark.catalog.clearCache()
    release_cuts(spark)
    # drops every temp view in one call; listing them through
    # spark.catalog.listTables() costs 0.05-0.25 s per operation
    spark._jsparkSession.sessionState().catalog().clearTempTables()


# per-layer metric -> (unit, which direction is better); the traced run
# reports every one of them on every workload (0 where a workload never
# enters the layer). BENCHMARK.json lists the same names.
PER_LAYER = {
    "catalog.load_table.s": ("s", "lower"),
    "catalog.jobs_per_load": ("count", "lower"),
    "plans.construct.s": ("s", "lower"),
    "plans.construct.self_s": ("s", "lower"),
    "plans.construct.jobs": ("count", "lower"),
    "plans.eager_share": ("ratio", "lower"),
    "operators.similarity.s": ("s", "lower"),
    "operators.pq.s": ("s", "lower"),
    "operators.dedup.s": ("s", "lower"),
    "operators.bpe.s": ("s", "lower"),
    "operators.text.s": ("s", "lower"),
    "spark.plan.s": ("s", "lower"),
    "spark.exec.s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task.s": ("s", "lower"),
    "spark.gc.s": ("s", "lower"),
    "spark.input.bytes": ("bytes", "lower"),
    "spark.shuffle_read.bytes": ("bytes", "lower"),
    "spark.shuffle_write.bytes": ("bytes", "lower"),
    "spark.spill.bytes": ("bytes", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "sources.write_or_merge.s": ("s", "lower"),
    "sources.merge_upsert.s": ("s", "lower"),
    "sources.append_partitioned.s": ("s", "lower"),
    "sources.read.s": ("s", "lower"),
    "sources.jobs_per_merge": ("count", "lower"),
    "sources.write_amp": ("ratio", "lower"),
    "sources.files_live": ("count", "lower"),
    "sources.stored_bytes_per_input_byte": ("ratio", "lower"),
    "pipeline.silver_job.s": ("s", "lower"),
    "pipeline.gold_job.s": ("s", "lower"),
    "pipeline.analytics.s": ("s", "lower"),
    "pipeline.ingest_rows_per_s": ("rows/s", "higher"),
    "streaming.batches": ("count", "lower"),
    "streaming.triggerExecution.ms": ("ms", "lower"),
    "streaming.queryPlanning.ms": ("ms", "lower"),
    "streaming.addBatch.ms": ("ms", "lower"),
    "streaming.getBatch.ms": ("ms", "lower"),
    "streaming.walCommit.ms": ("ms", "lower"),
    "harness.cleanup.s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "trace_overhead": ("ratio", "lower"),
}


class Layers:
    """Per-layer totals of the one traced pass, filled from spans, Spark
    status-store snapshots and streaming progress."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.counters = SparkCounters(spark)
        self.tracer = Tracer(run_id, self.counters.jobs)
        self.spark_plan_s = 0.0
        self.spark_exec_s = 0.0
        self.wall_s = 0.0
        self.extra: dict[str, float] = {}
        self._swapped: list = []

    def start(self) -> None:
        self.before = self.counters.snapshot()
        self.stream = StreamProgress(self.spark)
        self._swapped = instrument(self.tracer)

    def stop(self) -> None:
        restore(self._swapped)
        self.stream.close()
        self.after = self.counters.snapshot()
        self.spill = self.counters.spill_bytes(self.before["next_stage"])

    def metrics(self, nproc: int) -> dict[str, float]:
        t = self.tracer
        d = {k: self.after[k] - self.before[k] for k in self.after}
        construct = t.total("plans.construct")
        exec_phase = construct + self.spark_plan_s + self.spark_exec_s
        loads = t.count("catalog.load_table")
        merges = t.count("sources.merge_upsert")
        m = {
            "catalog.load_table.s": t.total("catalog.load_table"),
            "catalog.jobs_per_load": t.jobs("catalog.load_table") / loads if loads else 0.0,
            "plans.construct.s": construct,
            "plans.construct.self_s": t.self_time("plans.construct"),
            "plans.construct.jobs": t.jobs("plans.construct"),
            "plans.eager_share": construct / exec_phase if exec_phase else 0.0,
        }
        for mod in ("similarity", "pq", "dedup", "bpe", "text"):
            m[f"operators.{mod}.s"] = t.total(f"operators.{mod}")
        m.update(
            {
                "spark.plan.s": self.spark_plan_s,
                "spark.exec.s": self.spark_exec_s,
                "spark.jobs": d["jobs"],
                "spark.tasks": d["tasks"],
                "spark.task.s": d["task_ms"] / 1000.0,
                "spark.gc.s": d["gc_ms"] / 1000.0,
                "spark.input.bytes": d["input"],
                "spark.shuffle_read.bytes": d["shuffle_read"],
                "spark.shuffle_write.bytes": d["shuffle_write"],
                "spark.spill.bytes": self.spill,
                "spark.core_util": d["task_ms"] / 1000.0 / (self.wall_s * nproc)
                if self.wall_s
                else 0.0,
            }
        )
        for f in ("write_or_merge", "merge_upsert", "append_partitioned", "read"):
            m[f"sources.{f}.s"] = t.total(f"sources.{f}")
        m["sources.jobs_per_merge"] = t.jobs("sources.merge_upsert") / merges if merges else 0.0
        for f in ("silver_job", "gold_job", "analytics"):
            m[f"pipeline.{f}.s"] = t.total(f"pipeline.{f}")
        m["streaming.batches"] = self.stream.batches
        for k, v in self.stream.ms.items():
            m[f"streaming.{k}.ms"] = v
        m["harness.cleanup.s"] = t.total("harness.cleanup")
        m.update(self.extra)
        for k in PER_LAYER:
            m.setdefault(k, 0.0)
        return m


def _span(layers: Layers | None, name: str, **attrs):
    """A span of the traced passes; nothing in an untraced pass."""
    return contextlib.nullcontext() if layers is None else layers.tracer.span(name, **attrs)


def _timed_cleanup(spark, layers: Layers | None) -> float:
    t0 = time.perf_counter()
    with _span(layers, "harness.cleanup"):
        cleanup(spark)
    return time.perf_counter() - t0


class RegistryMix:
    """Registry queries of every read family on the seed-42 sf 0.01
    tables the repository's oracle suite reads (byte copies in
    ``perfbench/data/sf0.01``): scans/joins/windows (catalog loads, planning,
    execution), LLM-data operators (eager loops, vector folds) and one
    file-source micro-batch stream drained to a memory sink
    (``streaming``). Every pass collects each
    query's result to the driver; the last pass's results are compared
    with the DuckDB oracles once the timed passes are over."""

    name = "registry_mix"
    QUERIES = (
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q6_forecast_revenue",
        "athena_q1_daily_summary",
        "join_anti",
        "window_topk_per_group",
        "dedup_exact",
        "dedup_embedding_cosine",
        "similarity_topk_bruteforce",
        "text_quality_score",
        "streaming_tumbling_counts",
    )
    SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
    # untimed passes before the timed ones: the operations' latencies
    # still fall by 10-15% in the pass after the cold one
    WARMUP_PASSES = 2
    # seconds of one warmed-up pass on a 4-core host
    PASS_S = 6.5

    def __init__(self, work: str, seed: int) -> None:
        # the tables are fixed; the seed fixes the order of the queries
        self.seed = seed
        self.rng = random.Random(seed)
        self.sf_dir = self.SF_DIR
        self.wrong: dict[str, str] = {}
        self.results: dict = {}

    def _order(self) -> list[str]:
        order = list(self.QUERIES)
        self.rng.shuffle(order)
        return order

    def check(self) -> None:
        """Compare each query's result from the last pass with its DuckDB
        oracle, as ``tests/oracle.py`` does; outside any timed window."""
        from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

        compare, duckdb_conn = _oracle()
        con = duckdb_conn(self.sf_dir)
        try:
            for name, frame in self.results.items():
                collected = types.SimpleNamespace(toPandas=lambda frame=frame: frame)
                try:
                    compare(collected, con, REGISTRY[name].oracle, name)
                except Exception as exc:  # noqa: BLE001 - a wrong op is a result
                    self.wrong[name] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            con.close()

    def timed_pass(self, spark, layers: Layers | None = None) -> PassResult:
        from aws_callcenter_delta_lakehouse_spark.plans.all import REGISTRY

        ops, cleanup_s = [], 0.0
        t_pass = time.perf_counter()
        for name in self._order():
            op = Op(name)
            with _span(layers, "op", query=name):
                t0 = time.perf_counter()
                try:
                    with _span(layers, "plans.construct"):
                        df = REGISTRY[name].fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    n_exec = layers.counters.execution_count() if layers else 0
                    with _span(layers, "spark.collect"):
                        self.results[name] = df.toPandas()
                    t2 = time.perf_counter()
                    op.construct_s, op.exec_s, op.seconds = t1 - t0, t2 - t1, t2 - t0
                except Exception as exc:  # noqa: BLE001 - a failed op is a result
                    op.seconds = time.perf_counter() - t0
                    op.error = f"{type(exc).__name__}: {exc}"[:500]
                else:
                    if layers:
                        # the collect = the root SQL executions + planning
                        # and the Arrow-to-pandas conversion
                        exec_s = min(op.exec_s, layers.counters.root_execution_seconds(n_exec))
                        layers.spark_exec_s += exec_s
                        layers.spark_plan_s += op.exec_s - exec_s
            cleanup_s += _timed_cleanup(spark, layers)
            ops.append(op)
        return PassResult(ops, time.perf_counter() - t_pass, cleanup_s)

    def failed(self, op: Op) -> bool:
        return op.error is not None or op.name in self.wrong

    def context(self) -> dict:
        return {
            "tables_sha1": stats.tree_sha1(self.sf_dir, ".parquet"),
            "queries": list(self.QUERIES),
            "wrong": self.wrong,
        }


class MedallionIngest:
    """The paper's pipeline on seeded call-center CSVs: an initial load,
    then late batches MERGE-upserted into Silver (half updates, half new
    ids, about 1% DQ-invalid rows), the Gold job, and the five Athena
    queries of ``pipeline.cli`` collected. Every pass writes under a
    fresh root, checks the tables against the generator's counts and
    deletes the whole root, sidecars included."""

    name = "medallion_ingest"
    INITIAL_ROWS = 10_000
    BATCH_ROWS = 2_000
    N_BATCHES = 2
    PROCESSING_DATE = dt.date(2026, 8, 13)
    # the operations' latencies are flat from the first pass after the
    # cold one
    WARMUP_PASSES = 1
    PASS_S = 8.7

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.work = work
        self.n_pass = 0
        self.check_failures: list[str] = []
        self.pass_extra: list[dict] = []

    def _fresh_root(self) -> tuple[str, dict]:
        self.n_pass += 1
        root = os.path.join(self.work, f"lake-{self.n_pass:03d}")
        expected = datagen.write_call_batches(
            os.path.join(root, "in"), self.seed, self.INITIAL_ROWS, self.BATCH_ROWS,
            self.N_BATCHES,
        )
        return root, expected

    def _check(self, spark, root: str, expected: dict) -> None:
        from aws_callcenter_delta_lakehouse_spark.sources import managed_table

        silver = managed_table.read(spark, f"{root}/silver").count()
        exceptions = spark.read.parquet(f"{root}/exception").count()
        gold = managed_table.read(spark, f"{root}/gold/gold_call_daily_summary")
        total_calls = gold.agg({"total_calls": "sum"}).collect()[0][0]
        for what, got, want in (
            ("silver rows", silver, expected["silver_rows"]),
            ("exception rows", exceptions, expected["exception_rows"]),
            ("gold total_calls", total_calls, silver),
        ):
            if got != want:
                self.check_failures.append(f"pass {self.n_pass}: {what} {got} != {want}")

    def timed_pass(self, spark, layers: Layers | None = None) -> PassResult:
        from aws_callcenter_delta_lakehouse_spark.pipeline.cli import GOLD_TABLES, run_analytics
        from aws_callcenter_delta_lakehouse_spark.pipeline.gold_job import gold_job
        from aws_callcenter_delta_lakehouse_spark.pipeline.silver import silver_job
        from aws_callcenter_delta_lakehouse_spark.sources import managed_table

        root, expected = self._fresh_root()
        silver, gold = f"{root}/silver", f"{root}/gold"
        steps = [
            (f"silver_job[{i}]", "pipeline.silver_job",
             lambda b=b, i=i: silver_job(spark, b["path"], silver, f"{root}/exception",
                                         processing_date=self.PROCESSING_DATE, run_id=f"b{i}"))
            for i, b in enumerate(expected["batches"])
        ]
        steps.append(("gold_job", "pipeline.gold_job",
                      lambda: gold_job(spark, silver, gold, processing_date=self.PROCESSING_DATE)))
        # a reader of each Gold table, then the five Athena queries
        steps += [
            (f"gold_read[{t}]", "pipeline.analytics",
             lambda t=t: managed_table.read(spark, f"{gold}/{t}").collect())
            for t in GOLD_TABLES
        ]
        steps += [
            (f"analytics_q{q}", "pipeline.analytics",
             lambda q=q: run_analytics(spark, gold, query=q)[q].collect())
            for q in range(1, 6)
        ]
        ops, written = [], 0
        t_pass = time.perf_counter()
        for name, span, fn in steps:
            op = Op(name)
            listing = stats.file_sizes(root) if layers and span == "pipeline.silver_job" else None
            n_exec = layers.counters.execution_count() if layers else 0
            with _span(layers, span):
                t0 = time.perf_counter()
                try:
                    fn()
                except Exception as exc:  # noqa: BLE001 - a failed op is a result
                    op.error = f"{type(exc).__name__}: {exc}"[:500]
                op.seconds = op.exec_s = time.perf_counter() - t0
            if layers:
                layers.spark_exec_s += min(
                    op.seconds, layers.counters.root_execution_seconds(n_exec)
                )
                if listing is not None:
                    written += stats.written_bytes(listing, stats.file_sizes(root))
            ops.append(op)
        wall = time.perf_counter() - t_pass

        stored = stats.stored_bytes(root, os.path.join(root, "in"))
        silver_s = sum(o.seconds for o in ops if o.name.startswith("silver_job"))
        extra = {
            "ingest_rows_per_s": expected["input_rows"] / silver_s,
            "stored_bytes_per_input_byte": stored / expected["input_bytes"],
        }
        if layers:
            layers.extra = {
                "pipeline.ingest_rows_per_s": extra["ingest_rows_per_s"],
                "sources.stored_bytes_per_input_byte": extra["stored_bytes_per_input_byte"],
                "sources.write_amp": written / expected["input_bytes"],
                "sources.files_live": managed_table.table_detail(silver)["num_files"],
            }
        if not any(o.error for o in ops):
            self._check(spark, root, expected)
        # the steps of a pass build on each other, so the harness cleans
        # up once per pass, outside the pass's wall time
        cleanup_s = _timed_cleanup(spark, layers)
        shutil.rmtree(root)
        self.pass_extra.append(extra)
        return PassResult(ops, wall, cleanup_s, extra)

    def failed(self, op: Op) -> bool:
        return op.error is not None

    def context(self) -> dict:
        return {
            "initial_rows": self.INITIAL_ROWS,
            "batch_rows": self.BATCH_ROWS,
            "batches": self.N_BATCHES,
            "check_failures": self.check_failures,
            "passes": self.pass_extra,
        }


WORKLOADS = {w.name: w for w in (RegistryMix, MedallionIngest)}
