"""Run-to-run spread of every metric, against the bounds in BENCHMARK.json.

    python3 streambench/repeat.py --runs 10 [--workload NAME] [--trace 0|1]

Runs the benchmark command once per seed (1..runs) for each workload,
then prints, per metric, the median and the interquartile range as a
share of the median (``statistics.quantiles(values, n=4)``) next to
the metric's bound. Raw results go to ``.streambench_out/repeat-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(ROOT, ".streambench_out")
    os.makedirs(out_dir, exist_ok=True)
    worst = 0.0
    for w in workloads:
        results = []
        log = os.path.join(out_dir, f"repeat-{w}-trace{a.trace}.jsonl")
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace),
            ]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res["seed"], res["wall_s"] = seed, wall
            res["log"] = [l for l in proc.stderr.splitlines() if l.startswith("streambench:")]
            results.append(res)
            with open(log, "a") as f:
                f.write(json.dumps(res) + "\n")
            print(f"{w} seed {seed}: {wall:.0f} s, attempted {res['attempted']}, failed {res['failed']}", flush=True)
        print(f"\n{w}: {len(results)} runs, failed share "
              f"{sorted({r['failed'] / r['attempted'] for r in results})}")
        print(f"{'metric':45} {'median':>12} {'IQR/median':>11} {'bound':>6}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            s = spread(vals) if len(vals) >= 2 else 0.0
            b = bounds.get(name)
            if b is not None and name != "setup_s":
                worst = max(worst, s / b)
            print(f"{name:45} {statistics.median(vals):12.5g} {s:11.3f} {b if b is not None else '':>6}")
        walls = [r["wall_s"] for r in results]
        print(f"{'(wall time per run, s)':45} {statistics.median(walls):12.5g} max {max(walls):.0f}")
    if a.trace == 0:
        print(f"\nlargest spread / bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
