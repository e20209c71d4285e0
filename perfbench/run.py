"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload graphql_interactive --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``perfbench/.work/`` (removed on exit) in a child process, starts a
``local[4]`` Spark session, sets the workload up several times (the set-up
time is the median), warms every request shape, measures for ``--seconds``,
reads the memory peak, then checks every output against a DuckDB oracle,
and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
the workload's properties and its user-facing figures. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
run whose window alternates untraced and traced slices, and writes the spans
to ``perfbench/.out/``. Exits non-zero on any oracle mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_CORES = 4
#: repetitions of the repeatable set-up steps; set-up time takes the median
SETUP_REPEATS = 3

#: end-to-end metric -> (unit, better); every --trace 0 run reports each
E2E = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p95_ms": ("ms", "lower"),
    "throughput_rps": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workloads():
    from batch import Batch
    from ingest import Ingest
    from interactive import Interactive

    return {w.name: w for w in (Interactive, Ingest, Batch)}


def start_session(work: str):
    """``local[4]`` session with the engine's default conf; every file Spark
    writes (shuffle, spill, temp) stays under ``work``."""
    from graphique_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local  # takes precedence over spark.local.dir
    spark = get_session(
        app_name="perfbench",
        master=f"local[{SPARK_CORES}]",
        shuffle_partitions=SPARK_CORES,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    # the engine and its suite come from the checkout; without them there
    # is nothing to measure
    import __spark_entry__  # noqa: F401
    import graphique_spark  # noqa: F401
    from tools import check_correctness  # noqa: F401

    import layers
    from common import median, peak_rss_mb, percentile
    from spans import Tracer

    kinds = workloads()
    if args.workload not in kinds:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(kinds)}")
    kind = kinds[args.workload]
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    spark = None
    try:
        data_dir = os.path.join(work, "data")
        inputs = json.loads(subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), data_dir, str(args.seed),
             str(kind.scale), *kind.tables],
            check=True, capture_output=True, text=True,
        ).stdout)
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        workload = kind(spark, data_dir, work, args.seed)
        steps = [workload.setup_step() for _ in range(SETUP_REPEATS)]
        warm_s = workload.warm()
        step_s = sorted(sum(step.values()) for step in steps)[SETUP_REPEATS // 2]
        setup_s = session_s + step_s + warm_s

        tracer = Tracer() if args.trace else None
        workload.measure(args.seconds, tracer)
        rss = peak_rss_mb()
        ops = workload.operations()
        attempted, failed = workload.verify()
        latencies = [1e3 * (end - start) for start, end, _traced in ops]
        window = max(end for _s, end, _t in ops) - min(start for start, _e, _t in ops)
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": median(latencies),
            "latency_p95_ms": percentile(latencies, 95),
            "throughput_rps": workload.throughput(ops, window),
            "peak_rss_mb": rss,
        }
        figures = workload.figures()
        properties = {
            "workload": args.workload,
            "seed": args.seed,
            "requests": len(ops),
            "error_rate": failed / max(attempted, 1),
            "input_rows": sum(inputs[t]["rows"] for t in kind.tables),
            "input_bytes": sum(inputs[t]["bytes"] for t in kind.tables),
            "setup": {"session_s": session_s, "repeat_s": step_s, "warm_s": warm_s},
            **workload.properties(),
            "figures": figures,
        }
        if tracer:
            metrics = {name: 0.0 for name in layers.PER_LAYER}
            metrics["session.start_s"] = session_s
            metrics.update(figures)
            metrics.update(workload.layers(tracer, steps))
            metrics["trace.overhead_pct"] = layers.overhead_pct(ops)
            out_dir = os.path.join(HERE, ".out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            properties["spans"] = len(tracer.spans)
            properties["self_ms"] = layers.self_ms_by_span(tracer)
            units = {name: spec[0] for name, spec in layers.PER_LAYER.items()}
        else:
            metrics = e2e
            units = {name: spec[0] for name, spec in E2E.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(properties, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in units},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    return run(parse_args(sys.argv[1:] if argv is None else argv))


if __name__ == "__main__":
    sys.exit(main())
