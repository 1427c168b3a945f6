"""Per-query profiler for the optimization rounds (guide §1: measure first).

For each named query (default: the bench headline set) this records, at
$SPARK_GRAFT_SF_DIR or --sf:

- build_s   : seconds to construct the DataFrame (Python plan building +
              any operator-side freshness probes / artifact loads)
- bench_s   : warm min-of-N seconds through the SAME materialization the
              bench times (collect, or parquet sink for bench._SINK_MODE)
- noop_s    : warm min-of-N seconds through the noop sink (guide §1.4) -
              pure computation, no driver collect / sink cost
- jobs      : Spark jobs submitted by ONE bench-contract run (job-group
              count; includes AQE stage jobs and broadcast jobs - the
              dispatch-floor currency on sub-second queries)
- plan file : .explain("formatted") written to plans/r13/<name>_<suffix>.txt

Usage:
    python scripts/qprof.py [--sf DIR] [--reps N] [--suffix before]
                            [--plans-dir plans/r13] [name ...]

Output: one JSON line per query to stdout + a summary JSON to
--out (default /tmp/qprof.json).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (repo-root bench.py: reuse its materialization)
from nyc_analytics_database_platform_spark import registry  # noqa: E402
from nyc_analytics_database_platform_spark.catalog import (  # noqa: E402
    clear_engine_state,
    load,
)
from nyc_analytics_database_platform_spark.session import get_spark  # noqa: E402


def _explain_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def profile_one(spark, name: str, spec, sf_dir: str, reps: int,
                capture_internal: bool = False) -> dict:
    sc = spark.sparkContext
    rec: dict = {"name": name}
    if capture_internal:
        # Eager composites (curation_funnel_report etc.) run their jobs at
        # build time, so the returned frame's plan is a bare
        # createDataFrame. Operators that know this check for this hook and
        # append (label, formatted-plan) for their INTERNAL stage frames
        # (VERDICT r13 #7).
        spark._nadb_plan_capture = []
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    rec["build_s"] = round(time.perf_counter() - t0, 4)
    if capture_internal:
        rec["internal_plans"] = list(getattr(spark, "_nadb_plan_capture", []))
        spark._nadb_plan_capture = None
    try:
        rec["plan"] = _explain_text(df)
    except Exception as e:  # noqa: BLE001 - streaming drains etc.
        rec["plan"] = f"<explain failed: {type(e).__name__}: {e}>"

    # Warm both paths once (codegen), then time. Rep 0 of each loop below
    # is already warm because the bench-path loop runs first.
    bench_ts, noop_ts = [], []
    sc.setJobGroup(f"qprof-{name}", name)
    for i in range(reps + 1):  # +1 warmup rep, dropped
        t0 = time.perf_counter()
        bench._materialize(spec.fn(spark, sf_dir), name)
        dt = time.perf_counter() - t0
        if i:
            bench_ts.append(dt)
    # Jobs are counted in a FRESH group so spark.ui.retainedJobs eviction of
    # earlier same-group jobs can never skew the delta (ADVICE r13).
    group = f"qprof-{name}-count-{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    bench._materialize(spec.fn(spark, sf_dir), name)
    rec["last_bench_s"] = round(time.perf_counter() - t0, 4)
    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    for _ in range(reps):
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        noop_ts.append(time.perf_counter() - t0)
    sc.setJobGroup("qprof-idle", "idle")
    rec["bench_s"] = round(min(bench_ts), 4)
    rec["noop_s"] = round(min(noop_ts), 4)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--suffix", default=None, help="write <plans-dir>/<name>_<suffix>.txt")
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r14"))
    ap.add_argument("--capture-internal", action="store_true",
                    help="also capture internal stage plans hooked by eager "
                         "composites (plans/<name>__<label>_<suffix>.txt; "
                         "without --suffix, kept in the --out record)")
    ap.add_argument("--out", default="/tmp/qprof.json")
    args = ap.parse_args()

    full = registry.all_specs()
    names = args.names or sorted(n for n, s in full.items() if s.bench)
    spark = get_spark("qprof")
    spark.sparkContext.setLogLevel("ERROR")

    # Absorb JVM/codegen startup on the smallest SF (same as bench.py).
    # Guarded: a host without the fixture still profiles --sf.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.exists(os.path.join(warm_dir, "region.parquet")):
        load(spark, warm_dir, "region").count()
        for n in names:
            try:
                bench._materialize(full[n].fn(spark, warm_dir), n)
            except Exception:
                pass
        clear_engine_state(spark)

    results = []
    for n in names:
        rec = profile_one(spark, n, full[n], args.sf, args.reps,
                          capture_internal=args.capture_internal)
        internal = rec.pop("internal_plans", [])
        if args.suffix:
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(os.path.join(args.plans_dir, f"{n}_{args.suffix}.txt"), "w") as f:
                f.write(rec["plan"])
            for label, text in internal:
                safe = "".join(c if c.isalnum() or c in "-_" else "-" for c in label)
                with open(
                    os.path.join(args.plans_dir, f"{n}__{safe}_{args.suffix}.txt"), "w"
                ) as f:
                    f.write(text)
        plan = rec.pop("plan")
        rec["n_exchange"] = plan.count("Exchange")
        rec["n_wsc"] = plan.count("WholeStageCodegen")
        print(json.dumps(rec), flush=True)
        if internal and not args.suffix:
            # no plan files were written: keep the captured plans in --out
            rec["internal_plans"] = [{"label": label, "plan": text} for label, text in internal]
        results.append(rec)
        clear_engine_state(spark)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
