"""Steadiness report: repeat the benchmark across seeds and show how much
each end-to-end metric moves between runs.

    python3 perfbench/steadiness.py --workload chess_explore --runs 10 [--seed0 1]

Runs BENCHMARK.json's command once per seed (seed0, seed0+1, ...), one
after another, from the repository root. For every end-to-end metric it
prints the median and quartiles over the runs (statistics.quantiles,
n=4), the run count behind them, and the spread (q3 - q1) / median next
to the metric's bound; a spread above a third of the bound is flagged.
It also prints each run's host steal share, so a noisy host shows as
such rather than as a noisy program.
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


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, str, float]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    start = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.monotonic() - start
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    steal = next(
        (ln.split()[-1] for ln in lines if ln.strip().startswith("host_steal_share")), "?"
    )
    return json.loads(lines[-1]), steal, wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]

    values: dict = {m["name"]: [] for m in spec}
    walls: list = []
    for k in range(args.runs):
        seed = args.seed0 + k
        res, steal, wall = run_once(bench, args.workload, seed, args.trace)
        walls.append(wall)
        print(f"run {k + 1}/{args.runs} seed={seed} correct={res['correct']} "
              f"attempted={res['attempted']} steal={steal} wall={wall:.1f}s "
              + " ".join(f"{n}={v['value']:.5g}" for n, v in res["metrics"].items()),
              flush=True)
        for name in values:
            values[name].append(res["metrics"][name]["value"])

    print(f"\n{args.workload}: {args.runs} runs, seeds {args.seed0}.."
          f"{args.seed0 + args.runs - 1}")
    print(f"  {'metric':<44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    worst = 0.0
    for m in spec:
        vs = values[m["name"]]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = m.get("bound")
        flag = ""
        if bound is not None:
            flag = " OVER" if spread > bound else (" >1/3" if spread > bound / 3 else "")
            worst = max(worst, spread / bound)
        print(f"  {m['name']:<44} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} "
              f"{spread:>8.3f} {bound if bound is not None else '-':>6}{flag}")
    print(f"  (n={args.runs} runs behind each quartile; "
          f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s)")
    return 0 if worst <= 1.0 else 1


if __name__ == "__main__":
    sys.exit(main())
