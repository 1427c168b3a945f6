"""Run the benchmark several times with different seeds and report, per
end-to-end metric, the median and the quartile spread (distance between the
first and third quartile as a share of the median) against the metric's
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload dashboard --runs 5 [--first-seed 1]

Runs are sequential; each run's wall time is reported too.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok = True
    for wl in args.workload:
        values: dict[str, list[float]] = {}
        walls = []
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.perf_counter() - t0)
            if out.returncode != 0:
                print(out.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            notes = [ln for ln in out.stderr.splitlines() if ln.startswith("perfbench: ")
                     and ("rss" in ln or "reads;" in ln or "measured" in ln)]
            ok &= res["correct"] and res["failed"] == 0
            print(f"{wl} seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                  + "".join(f"\n    {n}" for n in notes), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {wl}: wall median {stats.median(walls):.1f}s")
        for k, vs in values.items():
            spread = stats.quartile_spread(vs) if len(vs) >= 2 else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else ("  ok" if spread <= b / 3 else ("  WIDE" if spread > b else "  >b/3"))
            print(f"   {k:28s} median {stats.median(vs):12.4f}  spread {spread:6.3f}"
                  + ("" if b is None else f"  bound {b}") + flag)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
