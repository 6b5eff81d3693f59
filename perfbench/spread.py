#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports each end-to-end metric's
median and quartile spread, the way the acceptance check computes it.

    python3 perfbench/spread.py --workload corpus --seeds 1-10 [--seconds 5]

Run from the repository root. The spread of a metric is the distance
between the first and third quartile of its values (Python's
`statistics.quantiles(values, n=4)`) as a share of their median. The
result of every run is appended to `.perfbench/spread.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    log = os.path.join(os.getcwd(), ".perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}")
            continue
        result = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "process_s": wall, "result": result}) + "\n")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()))
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
            bound = bounds.get(k)
            flag = "" if bound is None else (
                "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "TOO WIDE"))
            print(f"{k:20s} median={med:.5g} spread={spread:.4f} bound={bound} {flag}")


if __name__ == "__main__":
    main()
