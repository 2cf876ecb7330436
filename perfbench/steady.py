#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

For every workload and seed it runs `perfbench/run.py` once, keeps every
sample of every metric in the run record (end-to-end metrics, and with
`--trace 1` the per-layer ones as well), and writes per workload and metric
the median, the quartiles (`statistics.quantiles(values, n=4)`), the spread
(Q3 - Q1) / median, and the metric's bound from BENCHMARK.json. This is the
steadiness evidence a benchmark change must commit.

Usage: python3 perfbench/steady.py --out FILE [--seeds 1-10] [--trace 0|1]
                                   [--workloads analytics,lookup]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "trace": args.trace, "workloads": {}}
    for w in names:
        samples, runs = {}, []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            rec = {}
            if p.returncode == 0:
                path = os.path.join(ROOT, ".bench_build", "runs", f"{w}_s{s}_t{args.trace}.json")
                with open(path) as fh:
                    rec = json.load(fh)
            box = rec.get("box", {})
            runs.append({"seed": s, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
                         "correct": rec.get("correct"), "attempted": rec.get("attempted"),
                         "failed": rec.get("failed"), "load1_start": box.get("load1_start"),
                         "load1_end": box.get("load1_end")})
            for k, v in {**rec.get("end_to_end", {}), **rec.get("per_layer", {})}.items():
                samples.setdefault(k, []).append(v["value"])
            print(f"{w} seed={s} rc={p.returncode} wall={runs[-1]['wall_s']}s", file=sys.stderr)
        stats = {}
        for k, vs in samples.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            stats[k] = {"samples": vs, "median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else None, "bound": bounds.get(k)}
        report["workloads"][w] = {"runs": runs, "metrics": stats}
        for k, st in stats.items():
            print(f"{w:13s} {k:30s} median={st['median']:.4g} spread={st['spread']}"
                  f" bound={st['bound']}", file=sys.stderr)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
