"""Steadiness of the end-to-end metrics across seeds.

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...] [--seconds S]

Runs the benchmark once per seed, one run at a time, and prints for each
metric its median and its spread: the inter-quartile range over the median
(``statistics.quantiles(n=4)``), the figure the bounds in BENCHMARK.json
are set against. Needs at least two seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("seeds", type=int, nargs="+")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    if len(args.seeds) < 2:
        p.error("spread needs at least two seeds")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            check=True, capture_output=True, text=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        print(f"seed {seed}: attempted {res['attempted']} failed "
              f"{res['failed']} " + " ".join(
                  f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vals in values.items():
        print(f"{k:14s} median {median(vals):10.4g}  spread "
              f"{spread(vals):6.3f}  bound {bounds.get(k, float('nan'))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
