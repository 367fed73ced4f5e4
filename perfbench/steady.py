#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload N times, each with its
own seed, and print each end-to-end metric's median, quartiles and
spread (the quartile distance as a share of the median) next to its bound
in BENCHMARK.json. A spread is steady below a third of the bound; that
holds for setup_s too, whose median must not move by more than its bound.

    python3 perfbench/steady.py --workload gmall_paced --runs 10 [--seed0 1] [--compare prev.json]

The values are saved to perfbench/work/steady-<workload>-<seed0>.json;
--compare reports how far each median moved against such a file, which
must stay within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--compare", help="a saved steady-*.json to compare medians with")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    shares = []
    for seed in range(args.seed0, args.seed0 + args.runs):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {seed}: outputs are not correct")
        shares.append(f"{res['failed']}/{res['attempted']}")
        for m in bounds:
            values[m].append(res["metrics"][m]["value"])
        with open(os.path.join(BENCH, "work", f"{args.workload}-seed{seed}-trace0", "result.json")) as f:
            steal = json.load(f)["host_steal_share"]
        print(f"seed {seed}: " + " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds)
              + f" host_steal={steal:.3f}", flush=True)
    out = os.path.join(BENCH, "work", f"steady-{args.workload}-{args.seed0}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "values": values, "failed": shares}, f, indent=1)
    prev = json.load(open(args.compare))["values"] if args.compare else None
    print(f"\n{args.workload}: {args.runs} runs, failed/attempted {sorted(set(shares))}")
    print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}  verdict")
    for m, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        verdict = "steady" if spread < bounds[m] / 3 else "UNSTEADY"
        line = f"{m:<20}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>8.3f}{bounds[m]:>7}  {verdict}"
        if prev:
            shift = statistics.median(xs) / statistics.median(prev[m]) - 1
            line += f"  median moved {shift:+.3f}"
        print(line)


if __name__ == "__main__":
    main()
