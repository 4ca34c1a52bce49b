#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark.

    python3 perfbench/steady.py --workload reads --runs 10 [--seconds 10] [--first-seed 1] [--keep DIR]

Runs the benchmark once per seed and prints, for every end-to-end metric,
the median of the runs and the spread: the distance between the first and
third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. Compare each spread with the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--keep", help="directory to keep each run's full stdout in")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                                "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True, cwd=os.path.dirname(HERE))
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-3000:]}")
        if args.keep:
            os.makedirs(args.keep, exist_ok=True)
            with open(os.path.join(args.keep, f"{args.workload}-{seed}.out"), "w") as f:
                f.write(out.stdout)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        sp = (q3 - q1) / med
        print(f"{k:18s} median={med:.4g} spread={sp:.3f} bound={bounds.get(k)} "
              f"{'ok' if k in bounds and sp < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
