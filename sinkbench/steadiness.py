#!/usr/bin/env python3
"""Repeat the benchmark over seeds and record how steady it is.

    python3 sinkbench/steadiness.py --runs 10 [--workloads trickle,read_mix]

For every workload of BENCHMARK.json (or the ones named), runs
`run.py --trace 0` once per seed 1..N, and reports per end-to-end metric
the median, the first and third quartiles (`statistics.quantiles(n=4)`)
and the spread: (Q3 - Q1) / median, against the metric's bound. Writes
the record to `--out` (default: `.bench_build/sinkbench/steadiness.json`).
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


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "within_third_of_bound": spread < bound / 3, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "sinkbench",
                                                  "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w for w in args.workloads.split(",") if w] or \
        [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        per_metric, walls, failed = {}, [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not res.get("correct"):
                failed += 1
                print(f"{w} seed {seed}: FAILED\n{p.stdout[-1500:]}\n{p.stderr[-1500:]}",
                      file=sys.stderr)
                continue
            for k, m in res["metrics"].items():
                per_metric.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        record["workloads"][w] = {
            "runs": args.runs, "failed_runs": failed,
            "wall_s_per_run": statistics.mean(walls),
            "metrics": {k: summarize(v, bounds.get(k, 0.25)) for k, v in per_metric.items()
                        if len(v) >= 2}}
        for k, s in record["workloads"][w]["metrics"].items():
            print(f"  {w:14s} {k:22s} median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']})", flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
