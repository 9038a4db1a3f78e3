#!/usr/bin/env python3
"""textindex_spark benchmark: one command, every metric, checked results.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Runs from the repository root (or any directory: paths are resolved
from this file). Everything runs in this one process on ``local[4]`` with
a single closed-loop client. The seed makes the corpus, the held-out
append batch and the query set (``perfbench/inputs.py``); the engine
only ever sees the generated rows.

Human-readable lines go first; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, and the
spans are written to ``.perfbench_work/traces/``. See
``perfbench/README.md``.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
DOCS = 1500  # base corpus rows (about 1,350 survive the filters)
HELD = 150   # held-out rows for the append probe


def parse_args(argv):
    ap = argparse.ArgumentParser(description="textindex_spark benchmark")
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Before the JVM starts: workers import the engine from this
    checkout, and temporary files stay inside it. The engine's own
    session settings (heap, GC, shuffle buffers) are kept; only the
    Spark local directory moves, from ``/dev/shm`` into the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ]))
    sys.path.insert(0, ROOT)


def start_inputs(seed: int):
    """→ (inputs dir, child process or None). Inputs are cached under
    ``.perfbench_work/inputs`` keyed by (size, seed); a missing set is
    generated by a child process while the Spark session starts."""
    from inputs import INPUTS_VERSION

    final = os.path.join(WORK, "inputs", f"d{DOCS}-h{HELD}-s{seed}-v{INPUTS_VERSION}")
    if os.path.exists(os.path.join(final, "meta.json")):
        return final, None, None
    staging = f"{final}.tmp-{os.getpid()}"
    child = subprocess.Popen([
        sys.executable, os.path.join(HERE, "inputs.py"), "--docs", str(DOCS),
        "--held", str(HELD), "--seed", str(seed), "--out", staging, "--root", ROOT,
    ])
    return final, staging, child


def finish_inputs(final: str, staging: str | None, child) -> dict:
    if child is not None:
        if child.wait() != 0:
            raise RuntimeError(f"input generation failed (exit {child.returncode})")
        shutil.rmtree(final, ignore_errors=True)
        os.replace(staging, final)
    with open(os.path.join(final, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(final, "queries.json")) as f:
        queries = json.load(f)
    return {"dir": final, "meta": meta, "queries": queries}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched (it exits when its
    stdin closes; its Python workers exit with it), and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quantile(xs, q):
    """Nearest-rank quantile (the tail line of the summary)."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "textindex_spark", "__init__.py")):
        print(f"perfbench: no textindex_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    sys.path.insert(0, HERE)
    import workloads as wl
    from tracing import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    final, staging, child = start_inputs(args.seed)
    spark = None
    with wl.traced_commits(tracer) if args.trace else nullcontext():
        try:
            with tracer.span("bench.setup"):
                with tracer.span("session.start"):
                    from textindex_spark.session import get_spark

                    spark = get_spark(
                        "perfbench", cpus=CPUS, shuffle_partitions=2 * CPUS,
                        extra_conf={
                            "spark.ui.showConsoleProgress": "false",
                            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                        },
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                with tracer.span("session.warm"):
                    # the engine's pre-fault step: Python workers and
                    # JVM heap touched before any timed work
                    from textindex_spark.session import warm_workers

                    warm_workers(spark)
                inputs = finish_inputs(final, staging, child)
                child = None
                run = wl.Run(spark, tracer, inputs, run_dir)
                (wl.setup_build if args.workload == "build" else wl.setup_serve)(run)
            setup_s = time.perf_counter() - t_start
            with tracer.span("bench.loop"):
                if args.workload == "build":
                    res = wl.loop_build(run, args.seconds)
                else:
                    res = wl.loop_serve(run, args.seconds, args.seed)
            index_bytes = run.op("index size", run.index_bytes)
            if args.trace:
                with tracer.span("bench.probes"):
                    if args.workload == "build":
                        wl.probe_queries(run)
                    wl.probe_dist(run)
                    wl.probe_kernels(run)
                    wl.probe_postings(run)
                    wl.probe_codec(run)
                    wl.probe_append(run)
        finally:
            if child is not None:
                child.kill()
                child.wait()
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(run_dir, ignore_errors=True)

    op_ms = [s * 1e3 for s in res["op_s"]]
    if not op_ms or index_bytes is None:
        # nothing to measure: report the failure counts, no metrics
        print(f"perfbench: no timed {args.workload} operation succeeded", file=sys.stderr)
        print(json.dumps({
            "correct": False, "attempted": run.attempted, "failed": run.failed, "metrics": {},
        }))
        return 1
    index_ratio = index_bytes / inputs["meta"]["input_bytes"]
    if args.trace:
        metrics = wl.layer_metrics(run, res["overhead_s"])
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
        tracer.dump(trace_path, workload=args.workload, seed=args.seed)
        print(f"spans: {trace_path}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(op_ms), "ms"),
            "driver_peak_rss_mb": (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"
            ),
            "index_bytes_per_input_byte": (index_ratio, "ratio"),
        }
    summary(args, run, op_ms, metrics, res["detail"], res["throughput_per_s"])
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def summary(args, run, op_ms, metrics, detail, throughput) -> None:
    """The human-readable lines, in the workload's own terms."""
    op = "build" if args.workload == "build" else "query"
    n = len(op_ms)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} local[{CPUS}] docs={DOCS}")
    print(f"  {op}_p50_ms{'':<22}{statistics.median(op_ms):12.1f} ms   (n={n})")
    if n >= 100:
        print(f"  {op}_p90_ms{'':<22}{quantile(op_ms, 0.9):12.1f} ms   "
              f"(n={n}, {n - int(0.9 * n)} beyond)")
    print(f"  error_ratio{'':<22}{run.failed / max(run.attempted, 1):12.4f}      "
          f"({run.failed}/{run.attempted})")
    rate = "build_docs_per_s" if args.workload == "build" else "queries_per_s"
    print(f"  {rate:<33}{throughput:12.4f} 1/s   (mean-based)")
    print(f"  {detail}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<33}{value:12.4f} {unit}")


if __name__ == "__main__":
    sys.exit(main())
