#!/usr/bin/env python3
"""callhouse benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 14 --trace 0

Run it from the root of a checkout. ``registry_mix`` reads the tables in
``perfbench/data/``; ``medallion_ingest`` generates its CSV batches from
the seed under ``.bench_build/perfbench/`` in the checkout. It starts
one Spark driver on ``local[<cores of this process>]``, and runs a
closed loop: one client issues the workload's operations one after
another.

- Set-up: the session is started, then stopped and started again
  ``SETUP_REPEATS`` times in the same process; ``setup_s`` is the median
  restart. The JVM launch is paid once per process and stamped as
  ``cold_start_s``, not measured by ``setup_s``.
- The workload's ``WARMUP_PASSES`` passes over the operations, not
  timed: a cold one (class loading, codegen, JIT) and, where latencies
  still fall after it, one more.
- ``round(--seconds / PASS_S)`` timed passes, at least two; ``PASS_S`` is
  the workload's warmed-up pass time on a 4-core host. ``wall_s`` is the
  mean wall time of a timed pass; ``op_p50_s`` and ``op_tail_s`` are
  Harrell-Davis estimates over every execution of an operation in the
  timed passes.
- Outputs are checked once, after the timed passes.
- ``--trace 1`` makes one timed pass only, then one traced pass and one
  more untraced pass, and reports per-layer metrics (see
  ``perfbench/README.md``).
- The JVM runs C1-only (``JIT``): with the default tiered compiler the
  latencies were still falling in the fourth pass after the cold one,
  so a run of this length measured how far C2 had got, which depends on
  how much CPU the host's other guests leave to the compiler threads.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the
run's context stamp. A full record goes to
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_callcenter_delta_lakehouse_spark"
SETUP_REPEATS = 9
# C1 only; see the module docstring
JIT = "-XX:TieredStopAtLevel=1"
MIN_TIMED_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_env(work: str, trace: bool) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and pin the core count; return the session confs."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}")
        + " pyspark-shell"
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # keep every job, stage and SQL execution of the run in the
        # status stores the traced passes read
        conf.update(
            {
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            }
        )
    return conf


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def ready_session(conf: dict[str, str]):
    from aws_callcenter_delta_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def start_session(conf: dict[str, str]):
    """Returns the ready session, the cold start (process start to first
    ready session, JVM launch included) and ``SETUP_REPEATS`` in-process
    restarts (stop, start, first job)."""
    spark = ready_session(conf)
    cold = time.perf_counter() - T_PROCESS
    restarts = []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        spark = ready_session(conf)
        restarts.append(time.perf_counter() - t0)
    return spark, cold, restarts


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has ended."""
    import stats
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while left := [p for p in stats.process_tree(os.getpid()) if p != os.getpid()]:
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                raise RuntimeError(f"processes {left} outlived the run")
        time.sleep(0.1)


def measured_pass(wl, spark, layers=None):
    """One timed pass, with the CPU seconds the driver, the JVM and the
    Python workers spent in it and the share of the machine's time the
    hypervisor gave to other guests."""
    import stats

    cpu0, (steal0, total0) = stats.cpu_seconds(stats.process_tree(os.getpid())), stats.cpu_ticks()
    res = wl.timed_pass(spark, layers)
    steal1, total1 = stats.cpu_ticks()
    res.cpu_s = stats.cpu_seconds(stats.process_tree(os.getpid())) - cpu0
    res.steal_share = (steal1 - steal0) / max(1, total1 - total0)
    return res


def run(args: argparse.Namespace, work: str, results: str) -> dict:
    import stats
    from workloads import WORKLOADS, Layers, RegistryMix

    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "nproc": nproc(),
        "loadavg_start": stats.loadavg(),
        "utc_start": stats.utc_now(),
        "git_sha": stats.git_sha(ROOT),
        "source_sha1": stats.tree_sha1(os.path.join(ROOT, PACKAGE), ".py"),
    }
    conf = spark_env(work, bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        spark, cold_start_s, restarts = start_session(conf)
        ctx["cold_start_s"] = cold_start_s
        ctx["setup_restarts_s"] = restarts

        # the first passes are not timed: the cold one pays first
        # executions (class loading, codegen, compiling the hot paths)
        warmup = [measured_pass(wl, spark) for _ in range(wl.WARMUP_PASSES)]
        ctx["cold_pass_s"] = warmup[0].wall_s
        ctx["warmup_pass_s"] = [p.wall_s for p in warmup[1:]]
        # then timed passes for about --seconds; the count depends on
        # --seconds alone, never on how fast this host happens to be. A
        # traced run reports no end-to-end metric, so one pass before
        # the traced pass is enough.
        n_pass = 1 if args.trace else max(MIN_TIMED_PASSES, round(args.seconds / wl.PASS_S))
        timed = [measured_pass(wl, spark) for _ in range(n_pass)]
        if isinstance(wl, RegistryMix):
            # registry results are checked once here; medallion_ingest
            # checks its tables at the end of every pass
            t0 = time.perf_counter()
            wl.check()
            ctx["check_s"] = time.perf_counter() - t0
        timed_ops = [op for p in timed for op in p.ops]
        ops = [op for p in warmup for op in p.ops] + timed_ops
        latencies = [op.seconds for op in timed_ops]
        tail_s, tail_pct = stats.tail(latencies)
        metrics = {
            "setup_s": stats.median(restarts),
            "wall_s": stats.mean([p.wall_s for p in timed]),
            "op_p50_s": stats.hd_quantile(latencies, 0.5),
            "op_tail_s": tail_s,
        }
        ctx.update(
            peak_rss_mb=stats.peak_rss_mb([os.getpid(), jvm_pid()]),
            steal_share=[p.steal_share for p in timed],
            pass_wall_s=[p.wall_s for p in timed],
            pass_cpu_s=[p.cpu_s for p in timed],
            passes=n_pass,
            ops=len(ops),
            ops_timed=len(timed_ops),
            op_tail_pct=tail_pct,
            cleanup_s=stats.median([p.cleanup_s for p in timed]),
        )
        for key in ("ingest_rows_per_s", "stored_bytes_per_input_byte"):
            vals = [p.extra[key] for p in timed if key in p.extra]
            if vals:
                ctx[key] = stats.median(vals)

        per_layer = None
        if args.trace:
            run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
            layers = Layers(spark, run_id)
            layers.start()
            try:
                traced = measured_pass(wl, spark, layers)
            finally:
                layers.stop()
            layers.wall_s = traced.wall_s
            # the untraced reference brackets the traced pass, so a drift
            # from pass to pass cancels
            after = measured_pass(wl, spark)
            ops += traced.ops + after.ops
            reference = (timed[-1].wall_s + after.wall_s) / 2
            per_layer = layers.metrics(nproc())
            per_layer["peak_rss_mb"] = ctx["peak_rss_mb"]
            per_layer["trace_overhead"] = traced.wall_s / reference - 1
            span_file = os.path.join(results, f"{run_id}.spans.jsonl")
            layers.tracer.dump(span_file)
            ctx["spans"] = os.path.relpath(span_file, ROOT)
            ctx["traced_wall_s"] = traced.wall_s
    finally:
        stop_session(spark)

    failed = sum(1 for op in ops if wl.failed(op)) + len(getattr(wl, "check_failures", []))
    ctx.update(
        attempted=len(ops),
        failed=failed,
        error_rate=failed / len(ops),
        loadavg_end=stats.loadavg(),
        utc_end=stats.utc_now(),
        workload_detail=wl.context(),
        op_errors={op.name: op.error for op in ops if op.error},
    )
    return {
        "context": ctx,
        "metrics": metrics,
        "per_layer": per_layer,
        "ops": [vars(op) for op in ops],
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import PER_LAYER

    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ is not in {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        record = run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ctx = record["context"]
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{ctx['utc_start'].replace(':', '')}"
    with open(os.path.join(results, f"{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in record["metrics"].items()}
    print(json.dumps({"context": ctx}))
    print(
        json.dumps(
            {
                "correct": ctx["failed"] == 0,
                "attempted": ctx["attempted"],
                "failed": ctx["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
