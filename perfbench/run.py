"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from --seed, starts the engine with
run-private state (TMPDIR, Spark local dirs, sinks and tables all under
.perfbench_runs/<run>/ in the checkout, removed at exit), measures for
--seconds, checks the answers, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
patches the engine's layer functions with span recorders and reports the
per-layer metrics instead (spans are written to .perfbench_traces/).
Progress and diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nyc_analytics_database_platform_spark"
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every engine-side scratch location into the run directory and
    pin the engine to this machine's cores and a fixed driver heap."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "data", "sink")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def stop_engine(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "nyc", "api.py")):
        log(f"engine package {PKG}/ not found next to perfbench/; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import report
    import workloads
    from core import Ctx, dir_bytes, reset_peak_rss
    from spans import Tracer

    if args.workload not in workloads.ALL:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.ALL)}")
        return 2
    wl = workloads.ALL[args.workload]()

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}-{os.urandom(3).hex()}")
    dirs = isolate(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        manifest = wl.generate(args.seed, dirs["data"])
        gen_s = time.perf_counter() - t0
        log(f"inputs generated in {gen_s:.2f}s: {json.dumps(manifest, sort_keys=True)}")
        gc.collect()
        reset_peak_rss()  # peak_rss_mb covers set-up and the measured region only

        tracer = Tracer(enabled=bool(args.trace))
        if args.trace:
            workloads.import_layers()
            tracer.install()
        from nyc_analytics_database_platform_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                  run_dir=run_dir, data_dir=dirs["data"], user_bytes=manifest["user_bytes"])
        ctx.layer["session.start_s"] = start_s
        t0 = time.perf_counter()
        wl.setup(ctx)
        log(f"workload setup {time.perf_counter() - t0:.2f}s")
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        log(f"setup {setup_s:.2f}s (session start {start_s:.2f}s)")

        wl.run(ctx)
        log(f"measured {ctx.measured_s:.2f}s: {len(ctx.reads)} reads, {len(ctx.writes)} writes, "
            f"{ctx.failed} failed")
        ctx.layer["peak_rss_mb"] = report.rss()  # before the checks load oracle results
        # persisted layouts live under TMPDIR (layouts.scratch)
        ctx.layer["layouts.bytes"] = sum(
            dir_bytes(os.path.join(dirs["tmp"], d)) for d in os.listdir(dirs["tmp"])
            if d.startswith("spark_graft_"))
        t0 = time.perf_counter()
        wl.check(ctx)
        log(f"checked in {time.perf_counter() - t0:.2f}s")
        ctx.stored_bytes += ctx.layer["layouts.bytes"]
        if args.trace:
            tracer.uninstall()
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"))
            metrics = report.per_layer(ctx)
        else:
            metrics = report.end_to_end(ctx, setup_s)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"stopped in {time.perf_counter() - t0:.2f}s; process {time.perf_counter() - T_PROCESS:.2f}s")

    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
