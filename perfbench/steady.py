#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with another seed, and
print every metric's median, quartiles and spread against its bound.

Usage (from the checkout root):
  python3 perfbench/steady.py --workload <name> [--runs 10] [--seconds <s>]

Spread is (Q3 - Q1) / median over the runs, quartiles as
statistics.quantiles(n=4) gives them; bounds and the default --seconds come
from BENCHMARK.json. Runs use seeds 1..N, untraced (only end-to-end
metrics have bounds). Each run's loadavg before and after and the CPU share
stolen by the hypervisor during it are listed, so host drift shows next to
the numbers. Exits 1 when a run fails or a spread
exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]

    values, ok = {}, True
    for seed in range(1, args.runs + 1):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True)
        if p.returncode != 0:
            ok = False
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        last = json.loads(p.stdout.strip().splitlines()[-1])
        run_dir = f".bench_build/runs/{args.workload}-s{seed}-t0"
        prov = json.load(open(f"{run_dir}/result.json"))["provenance"]
        steal = prov["steal_share"]
        print(f"seed {seed}: attempted {last['attempted']} failed "
              f"{last['failed']} loadavg {prov['loadavg_before']} -> "
              f"{prov['loadavg_after']} steal "
              f"{'n/a' if steal is None else f'{steal:.3f}'} "
              f"wall {prov['run_wall_s']:.1f}s")
        for k, m in last["metrics"].items():
            values.setdefault(k, (m["unit"], []))[1].append(m["value"])

    print(f"\n{args.workload}: {args.runs} runs, {seconds}s each")
    print(f"{'metric':32} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    for k, (unit, xs) in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        s, b = spread(xs), bounds.get(k)
        flag = ""
        if b is not None:
            flag = "ok" if s <= b / 3 else ("within" if s <= b else "OVER")
            ok = ok and s <= b
        print(f"{k:32} {unit:6} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{s:8.3f} {'' if b is None else b:>6} {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
