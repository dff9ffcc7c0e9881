"""Run perfbench over several seeds and summarise it.

    python3 perfbench/summary.py [--workloads a,b] [--seeds 1,2,3] [--seconds N] [--traced]

Runs every workload once per seed, one process at a time, printing each
run's correctness, attempted/failed counts, wall time and metrics, then
for each workload/metric pair the median over the seeds and the spread
(interquartile range as a share of the median, as the acceptance check
computes it). ``--traced`` also runs each workload once with --trace 1
(first seed) and prints the per-layer metrics and the tracing overhead:
each traced end-to-end figure minus the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True,
    )
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    # seeds outer, workloads inner: a drift in host speed while this
    # runs then falls on every workload alike
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for s in seeds:
        for w in workloads:
            res, wall = run_once(w, s, args.seconds, 0)
            print(f"{w} seed {s}: wall {wall:.1f} s, "
                  + (f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
                     + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                     if res else "FAILED (no result)"), flush=True)
            if res:
                runs[w].append(res)
    for w in workloads:
        ok = runs[w]
        print(f"\n{w}: {len(ok)}/{len(seeds)} runs gave a result")
        print(f"  {'metric':22s} {'median':>12s} {'unit':>6s} {'spread':>8s} {'bound':>6s}")
        medians = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
            if not vals:
                continue
            medians[name] = statistics.median(vals)
            unit = ok[0]["metrics"][name]["unit"]
            print(f"  {name:22s} {medians[name]:12.4f} {unit:>6s} {spread(vals):8.3f} {bounds[name]:6.2f}")
        if args.traced:
            res, wall = run_once(w, seeds[0], args.seconds, 1)
            if res is None:
                print("  traced run FAILED")
                continue
            print(f"  traced run (seed {seeds[0]}): wall {wall:.1f} s, correct={res['correct']}")
            for name, v in res["metrics"].items():
                print(f"    {name:46s} {v['value']:14.4f} {v['unit']}")
            for name in medians:
                traced = res["metrics"][f"trace.{name}"]["value"]
                print(f"    overhead {name:37s} {traced - medians[name]:+14.4f} "
                      f"({(traced / medians[name] - 1) * 100:+.1f}%)")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
