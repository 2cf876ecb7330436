#!/usr/bin/env python3
"""Per-op latency summary of perfbench run records.

Usage: scripts/op_times.py [runs-dir | record.json ...]

Reads the `ops` list of every run record (`<workload>_s<seed>_t<trace>.json`,
default directory .bench_build/runs) and prints, per workload and op name,
the number of ops, the runs they came from, and min, median and p90 in ms.
Percentiles interpolate between ranks as perfbench's own query_p50_ms and
query_p90_ms do, so a workload's metric shift can be traced to the op kind
that moved.
"""
import glob
import json
import os
import sys
from collections import defaultdict


def pct(xs, p):
    s = sorted(xs)
    h = p * (len(s) - 1)
    i = int(h)
    return s[i] if i + 1 >= len(s) else s[i] + (h - i) * (s[i + 1] - s[i])


def records(args):
    if not args:
        args = [os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".bench_build", "runs")]
    for a in args:
        if os.path.isdir(a):
            yield from sorted(glob.glob(os.path.join(a, "*_s*_t[01].json")))
        else:
            yield a


def main():
    ms = defaultdict(list)
    runs = defaultdict(set)
    for path in records(sys.argv[1:]):
        with open(path) as fh:
            rec = json.load(fh)
        workload = rec.get("box", {}).get("workload", "?")
        for op in rec.get("ops", []):
            ms[(workload, op["name"])].append(op["ms"])
            runs[(workload, op["name"])].add(path)
    if not ms:
        sys.exit("op_times: no ops found")
    w = max(len(op) for _, op in ms)
    print(f"{'workload':14s} {'op':{w}s} {'ops':>5s} {'runs':>5s} {'min':>9s} {'median':>9s} {'p90':>9s}")
    for key in sorted(ms):
        xs = ms[key]
        print(f"{key[0]:14s} {key[1]:{w}s} {len(xs):5d} {len(runs[key]):5d} "
              f"{min(xs):9.1f} {pct(xs, 0.5):9.1f} {pct(xs, 0.9):9.1f}")


if __name__ == "__main__":
    main()
