#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Runs each workload `--runs` times untraced, each with another seed, and
prints per metric the median, the quartiles (statistics.quantiles, n=4)
and the quartile distance as a share of the median, next to the metric's
bound from BENCHMARK.json. A spread above a third of the bound is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import time
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        values = {m: [] for m in bounds}
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            result = json.loads(out.stdout.strip().splitlines()[-1]) if out.returncode == 0 else None
            if not result or not result["correct"]:
                print(f"{w} seed {seed}: run failed (exit {out.returncode})")
                continue
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(f"{m}={values[m][-1]:.4g}" for m in bounds)
                  + f", wall={time.monotonic() - t0:.1f}s", flush=True)
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "  > bound/3" if m != "setup_s" and spread > bounds[m] / 3 else ""
            print(f"{w} {m}: median {med:.4g} quartiles {q1:.4g}..{q3:.4g} "
                  f"spread {spread:.2%} (bound {bounds[m]:.0%}, n={len(xs)}){flag}")


if __name__ == "__main__":
    main()
