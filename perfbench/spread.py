#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (interquartile distance as a share
of the median, as `statistics.quantiles(values, n=4)` gives them).

    python3 perfbench/spread.py --workload W [--seeds 1-10]

Run from the repository root; runs are sequential.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values, bad = {}, 0
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += 0 if res["correct"] else 1
        print(f"seed {seed}: {lines[-2] if len(lines) > 1 else ''}\n  {lines[-1]}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        med, n = stats.median_n(vs)
        sp = stats.spread(vs) if n >= 2 and med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if sp < b / 3 else f" ABOVE a third of bound {b}")
        print(f"{k}: median {med:.6g} n={n} spread {sp:.4f}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
