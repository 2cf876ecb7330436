#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine.

Usage:
  python3 perfbench/run.py --workload {analytics,lookup,ingest_mixed} \
      --seed N --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), generates the input
tables once per checkout (perfbench/gen_data.py), then runs one JVM with one
client thread on `local[nproc]`. With `--trace 0` the last stdout line
carries the end-to-end metrics; with `--trace 1` it carries the per-layer
metrics and the spans are written next to the run record. Every run writes
a record that identifies the box under .bench_build/runs/. The exit code is
non-zero when any output differs from its oracle or model.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

BUILD = build.BUILD
SF = "0.1"
JVM_TIMEOUT_S = 165


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def loc(top):
    n = 0
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += sum(1 for _ in fh)
    return n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    workloads = {w["name"] for w in spec()["workloads"]}
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload}; one of {sorted(workloads)}")

    jar, jsa = build.build()
    data, warm = build.tables(SF), build.tables(build.WARM_SF)
    cores = len(os.sched_getaffinity(0))
    box = {"nproc": cores, "heap": build.HEAP, "sf": float(SF), "warm_sf": float(build.WARM_SF),
           "seed": args.seed, "workload": args.workload, "trace": args.trace,
           "seconds": args.seconds, "load1_start": os.getloadavg()[0],
           "src_main_loc": loc(build.PROGRAM_SRC), "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}_s{args.seed}_t{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(runs, tag + ".log")
    cmd = build.java(jar, f"-XX:SharedArchiveFile={jsa}", work, "graftbench.Bench", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--warm", warm, "--work", work, "--out", out,
        "--golden", os.path.join(HERE, "golden.tsv"), "--cores", str(cores)])
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            sys.exit(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            shutil.copyfile(out + ".spans.json", os.path.join(runs, tag + ".spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    box["load1_end"] = os.getloadavg()[0]
    record = dict(box=box, **res)
    with open(os.path.join(runs, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    with open(log) as lf:
        for line in lf:
            if line.startswith("[bench]"):
                sys.stderr.write(line)
    print("box " + json.dumps(box))
    print("counts " + json.dumps(res["counts"]))
    for k, v in res["end_to_end"].items():
        print(f"e2e  {k:24s} {v['value']:.6g} {v['unit']}")
    for k, v in res["per_layer"].items():
        print(f"layer {k:30s} {v['value']:.6g} {v['unit']}")
    for k, v in res["self_ms"].items():
        print(f"self  {k:10s} {v:.1f} ms")
    names = [m["name"] for m in spec()["per_layer" if args.trace else "end_to_end"]]
    both = {**res["end_to_end"], **res["per_layer"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": {n: both[n] for n in names}}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
