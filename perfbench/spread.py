#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload serve_read --runs 10 [--first-seed 1]

Runs the benchmark once per seed and prints, for each end-to-end metric,
the median and the interquartile distance as a share of the median, next
to the metric's bound in BENCHMARK.json (the acceptance rule: every spread
but setup_s's within its bound; aim for a third of it).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {n: [] for n in bounds}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"], stdout=subprocess.PIPE, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if out.returncode != 0 or not res["correct"]:
            sys.exit(f"seed {seed}: run failed")
        for n in bounds:
            values[n].append(res["metrics"][n]["value"])
        print(f"seed {seed}: " + ", ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
    for n, v in values.items():
        spread = stats.quartile_spread(v)
        print(f"{a.workload} {n}: median {statistics.median(v):.4g}  spread {spread:.3f}  "
              f"bound {bounds[n]}  {'ok' if spread <= bounds[n] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
