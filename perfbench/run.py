"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_full_refresh --seed 1 --seconds 16 --trace 0

Everything runs in this process and one SparkSession on ``local[nproc]``,
as a closed loop with one client: each pass starts when the previous one
has finished. A run sets up (session start, seeded inputs, one warm-up
pass that also checks every output), then runs the workload's pass a
fixed number of times, as many as fill ``--seconds`` at the workload's
nominal pass time, and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``.

Times are CPU seconds of this process, the driver JVM and its Python
workers, less the JVM's JIT compiler threads. On a shared host the wall
time of the same pass moves with the CPU the host withholds (steal), by
up to 2x from one minute to the next; CPU time does not count stolen
time. Wall times are reported too, in the ``info`` line and as the
per-layer ``pass_wall_s``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
span wrappers around the engine's public functions and reports the
per-layer metrics, alternating traced and untraced passes so the
tracing overhead is measured too. Spans are written to
``.perfbench_traces/`` when the run ends.

All files a run writes (inputs, warehouse, Spark local dirs, temp files)
live in one directory under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "storage_ratio": "ratio",
}
# Input generation is repeated and its median taken, so one slow write
# does not move setup_s.
SETUP_GEN_REPEATS = 3
# The pass count never drops below this, so every figure is a median of
# several. The count does not depend on how fast the host runs: a pass
# still gets cheaper as the JVM warms, so a count that varied would move
# the median.
MIN_PASSES = 2
# The session factory's 8g default heap measured no faster on these inputs
# and only raised peak memory, which other processes on the host share.
DRIVER_MEMORY = "2g"


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import CURATION_LAYERS, ETL_LAYERS

    units = {}
    for name in (*ETL_LAYERS, *CURATION_LAYERS):
        if name.endswith("_s") or name.endswith(".s"):
            units[name] = "s"
        elif name.endswith("_bytes"):
            units[name] = "bytes"
        else:
            units[name] = "count"
    units.update({"session.jvm_gc_s": "s", "session.peak_rss_mb": "MB",
                  "failed_ops_ratio": "ratio", "trace.overhead_s": "s",
                  "pass_wall_s": "s"})
    return units


def metric_line(correct: bool, attempted: int, failed: int, values: dict[str, float],
                units: dict[str, str]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_repo() -> None:
    """Exit non-zero, printing no result, outside a full checkout."""
    needed = ("retail_sales_etl_pipeline_spark/plans/retail_pipeline.py",
              "tools/bench_pipeline.py", "tools/check_correctness.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a full checkout, missing {', '.join(missing)}", file=sys.stderr)
        raise SystemExit(2)


def isolate(work: str) -> dict[str, str]:
    """Point every temp/scratch location of this process, the JVM and its
    Python workers into ``work``; return the Spark confs that do the same."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    tempfile.tempdir = dirs["tmp"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # compiler threads that never exit keep their CPU time apart (see
    # SparkProbe.cpu_seconds)
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
                 " -XX:-UseDynamicNumberOfCompilerThreads")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def measure(args: argparse.Namespace, work: str) -> tuple[str, dict]:
    from perfbench.probe import SparkProbe
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Outcome, Timing
    from retail_sales_etl_pipeline_spark.session import DEFAULT_CPUS, get_spark

    conf = isolate(work)
    t0, c0 = time.perf_counter(), sum(os.times()[:2])
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        probe = SparkProbe(spark)
        # the JVM started inside the window, so all of its CPU counts
        session_cpu = probe.cpu_seconds() - c0
        outcome = Outcome()
        wl = WORKLOADS[args.workload](spark, probe, work, outcome)
        gen: list[Timing] = []
        for _ in range(SETUP_GEN_REPEATS):
            t0, c0 = time.perf_counter(), probe.cpu_seconds()
            wl.prepare(args.seed)
            gen.append(Timing(time.perf_counter() - t0, probe.cpu_seconds() - c0))
        wl.check_inputs()
        warmup = wl.run_pass(0)

        tracer = Tracer(lambda: {"jobs": probe.jobs()}) if args.trace else None
        n_passes = max(MIN_PASSES, round(args.seconds / wl.nominal_pass_s))
        plain: list[Timing] = []
        traced: list[Timing] = []
        layers: list[dict[str, float]] = []
        for i in range(1, (2 if tracer else 1) * n_passes + 1):
            # traced, untraced, untraced, traced, ...: the passes still get
            # faster as the JVM warms, and this order cancels a linear drift
            # out of the overhead estimate
            use_trace = tracer is not None and i % 4 in (0, 1)
            if use_trace:
                tracer.iteration = i
                wl.install(tracer)
                gc0 = probe.gc_seconds()
                try:
                    traced.append(wl.run_pass(i, tracer))
                finally:
                    tracer.restore()
                layers.append({**wl.layer_metrics(tracer.spans, i),
                               "session.jvm_gc_s": probe.gc_seconds() - gc0})
            else:
                plain.append(wl.run_pass(i))

        failed = len(outcome.errors)
        for e in outcome.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        wall = statistics.median(t.wall for t in plain)
        cpu = statistics.median(t.cpu for t in plain)
        info = {
            "workload": args.workload, "seed": args.seed, "nproc": DEFAULT_CPUS,
            "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
            "setup_wall_s": session_s + statistics.median(t.wall for t in gen) + warmup.wall,
            "session_s": session_s, "session_cpu_s": session_cpu,
            "warmup_s": warmup.wall, "warmup_cpu_s": warmup.cpu, "check_s": wl.check_s,
            "passes_s": [t.wall for t in plain], "passes_cpu_s": [t.cpu for t in plain],
            "samples": {"pass_cpu_s": len(plain), "traced_pass_s": len(traced),
                        "storage_ratio": len(wl.storage), "setup_gen": len(gen)},
        }
        if tracer is None:
            units = END_TO_END
            values = {
                "setup_s": session_cpu + statistics.median(t.cpu for t in gen) + warmup.cpu,
                "pass_cpu_s": cpu,
                "rows_per_cpu_s": wl.input_rows / cpu,
                "storage_ratio": statistics.median(wl.storage),
            }
        else:
            units = per_layer_units()
            values = dict.fromkeys(units, 0.0)
            for k in layers[0]:
                values[k] = statistics.median(d[k] for d in layers)
            values["session.peak_rss_mb"] = probe.peak_rss_mb()
            values["failed_ops_ratio"] = failed / outcome.attempted
            values["trace.overhead_s"] = statistics.median(t.wall for t in traced) - wall
            values["pass_wall_s"] = wall
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            trace_path = os.path.join(ROOT, ".perfbench_traces",
                                      f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_path)
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
        line = metric_line(failed == 0, outcome.attempted, failed, values, units)
        return line, info
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it and the
    Python workers it started to exit.

    The gateway JVM exits when its stdin closes; closing it is how
    PySpark's own launcher ends it at interpreter exit. The workers end
    when their pipe from the JVM closes, possibly after the JVM.
    """
    from pyspark import SparkContext

    from perfbench.probe import process_tree, wait_ended

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = process_tree(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    wait_ended(workers)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    require_repo()
    sys.path.insert(0, ROOT)
    args = parse_args(sys.argv[1:] if argv is None else argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    t0 = time.perf_counter()
    try:
        line, info = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["wall_s"] = time.perf_counter() - t0
    print(json.dumps({"info": info}))
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
