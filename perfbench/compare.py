#!/usr/bin/env python3
"""A/A (or A/B) comparison of two sets of benchmark runs.

    python3 perfbench/compare.py a.jsonl b.jsonl

Each file holds one result per line, as series.py writes them. For every
workload x end-to-end metric it prints each side's median and quartiles, the
share of pairs (i-th run of A against i-th run of B) that B wins, and a
verdict against the metric's bound in BENCHMARK.json:

- "unresolved" when either side's spread, (q3 - q1) / median, exceeds the
  bound, unless every run of B reads better than every run of A;
- "worse" when B's median is worse than A's by more than the bound;
- "ok" otherwise.
"""
import collections
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(path):
    runs = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("metrics"):
                runs[r["workload"]].append(r)
    return runs


def verdict(a, b, better, bound):
    sign = 1 if better == "higher" else -1
    qa, qb = stats.quartile_spread(a), stats.quartile_spread(b)
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    b_all_better = all(sign * (y - x) > 0 for x in a for y in b)
    change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    if (qa[3] > bound or qb[3] > bound) and not b_all_better:
        v = "unresolved"
    elif sign * change < -bound:
        v = "worse"
    else:
        v = "ok"
    return qa, qb, wins, change, v


def main():
    a_path, b_path = sys.argv[1], sys.argv[2]
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    a, b = load(a_path), load(b_path)
    bad = 0
    print(f"{'workload':14s} {'metric':22s} {'A q1/med/q3':>30s} {'spread':>7s} "
          f"{'B q1/med/q3':>30s} {'spread':>7s} {'B wins':>7s} {'change':>8s} {'bound':>6s} verdict")
    for w in sorted(set(a) | set(b)):
        for m in bench["end_to_end"]:
            xa = [r["metrics"][m["name"]]["value"] for r in a.get(w, [])]
            xb = [r["metrics"][m["name"]]["value"] for r in b.get(w, [])]
            if len(xa) < 2 or len(xb) < 2:
                print(f"{w:14s} {m['name']:22s} too few runs ({len(xa)} vs {len(xb)})")
                bad += 1
                continue
            qa, qb, wins, change, v = verdict(xa, xb, m["better"], m["bound"])
            bad += v != "ok"
            print(f"{w:14s} {m['name']:22s} "
                  f"{qa[0]:9.4g}/{qa[1]:9.4g}/{qa[2]:9.4g} {qa[3]:7.3f} "
                  f"{qb[0]:9.4g}/{qb[1]:9.4g}/{qb[2]:9.4g} {qb[3]:7.3f} "
                  f"{wins:3d}/{min(len(xa), len(xb)):<3d} {change:+8.3f} {m['bound']:6.2f} {v}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
