"""Run a workload over several seeds and report each metric's spread.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload session --seeds 1-10

For every end-to-end metric it prints the median of the runs and the
distance between their first and third quartiles as a share of that
median, next to the metric's bound from BENCHMARK.json: the figure a
benchmark must keep below its bound to be usable for regressions. Runs
are untraced, so the figures are the end-to-end metrics, which have
bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def quartile_spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    here = os.path.dirname(os.path.abspath(__file__))
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append(result)
        figures = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.0f} s correct={result['correct']} "
              f"failed={result['failed']} {figures}", flush=True)
    if len(runs) < 2:
        return 1
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        print(f"{name:>22}: median {statistics.median(values):.4f} spread "
              f"{quartile_spread(values):.3f} (bound {bounds.get(name)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
