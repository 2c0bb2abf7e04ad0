"""Run the benchmark once per seed and report each metric's spread.

    python3 sharebench/spread.py --workload metadata_serve \\
        --seeds 1 2 3 4 5 --seconds 15

Spread is (Q3 - Q1) / median over the runs, with quartiles as
``statistics.quantiles(values, n=4)``: the figure each metric's bound in
BENCHMARK.json is checked against. Runs are untraced and sequential, from
the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import iqr_spread, median  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
            timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        host = next((ln[len("# host "):] for ln in lines
                     if ln.startswith("# host ")), "")
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
            + f" {host}", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(args.seeds) >= 2:
        for k, v in values.items():
            print(f"{k}: median {median(v):.4g} spread {iqr_spread(v):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
