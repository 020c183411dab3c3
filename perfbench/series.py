#!/usr/bin/env python3
"""Run the benchmark several times and append each run's result to a JSONL
file, for compare.py.

    python3 perfbench/series.py --workload llm_jobs --seeds 1-10 --out a.jsonl
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for seed in seeds(args.seeds):
        for w in args.workload:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            try:
                result = json.loads(last)
            except ValueError:
                result = {}
            rec = {"workload": w, "seed": seed, "exit": p.returncode,
                   "wall_s": round(wall, 2), **result}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: exit {p.returncode} in {wall:.1f} s, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in result.get("metrics", {}).items()),
                  flush=True)


if __name__ == "__main__":
    main()
