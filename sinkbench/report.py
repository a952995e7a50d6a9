#!/usr/bin/env python3
"""The traced run: per-layer numbers for every workload, with the tracing
overhead, the single-threaded reference and the two seed-state probes.

    python3 sinkbench/report.py [--seed 1] [--out sinkbench/results/trace_report.json]

For each workload it runs `run.py` untraced and traced on the same seed;
the overhead of tracing is the traced end-to-end value over the untraced
one, minus one. It also runs `backlog_demux` traced at `local[1]` (the
nproc-vs-1 speed-up) and `trickle` traced with a four times longer
history (does restart recovery grow with log versions?), and `read_mix`
traced with a six-cycle maintenance period to fit `CommitLog.read`'s build
seconds against live files.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from metrics import slope  # noqa: E402

WORKLOADS = ("trickle", "backlog_demux", "read_mix", "gated_docs")


def run(workload, seed, seconds, trace, cores=0, params=""):
    raw = os.path.join(ROOT, ".bench_build", "sinkbench",
                       f"report-{workload}-{trace}-{cores}.raw.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--raw-out", raw]
    if cores:
        cmd += ["--cores", str(cores)]
    if params:
        cmd += ["--params", params]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    print(p.stdout, end="", flush=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    art = None
    for line in p.stdout.splitlines():
        if line.startswith("trace artifact: "):
            with open(os.path.join(ROOT, line.split(": ", 1)[1])) as fh:
                art = json.load(fh)
    with open(raw) as fh:
        rawj = json.load(fh)
    return res, art, rawj


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "trace_report.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    report = {"seed": args.seed, "run_seconds": seconds, "cores": os.cpu_count(),
              "workloads": {}}
    for w in WORKLOADS:
        plain, _, _ = run(w, args.seed, seconds, 0)
        traced, art, _ = run(w, args.seed, seconds, 1)
        e2e_t = art["end_to_end"]
        overhead = {k: (e2e_t[k]["value"] / m["value"] - 1) if m["value"] else None
                    for k, m in plain["metrics"].items()}
        ops = art["ops"]
        report["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end_untraced": {k: m["value"] for k, m in plain["metrics"].items()},
            "end_to_end_traced": {k: m["value"] for k, m in e2e_t.items()},
            "tracing_overhead": overhead,
            "named": {k: m["value"] for k, m in art["named"].items()},
            "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
            "self_time_by_span_s": art["self_time_by_span"],
            "timed_ops": len(ops),
            "attributed_share_min": min((o["attributed_share"] for o in ops), default=None),
            "attributed_share_median": statistics.median(
                [o["attributed_share"] for o in ops]) if ops else None,
        }
    # single-threaded reference of the data-plane workload
    one, art1, _ = run("backlog_demux", args.seed, seconds, 1, cores=1)
    n = report["workloads"]["backlog_demux"]["end_to_end_traced"]["rows_per_s"]
    report["backlog_demux_local1"] = {
        "rows_per_s": art1["end_to_end"]["rows_per_s"]["value"],
        "batch_s_p50": art1["end_to_end"]["latency_s_p50"]["value"],
        "speedup_nproc_vs_1": n / art1["end_to_end"]["rows_per_s"]["value"]}
    # seed-state probe 1: restart recovery against log length
    base = report["workloads"]["trickle"]["per_layer"]
    _, artl, _ = run("trickle", args.seed, seconds, 1, params="history_versions=480")
    report["recover_vs_versions"] = [
        {"versions_end": base["commitlog.versions_end"],
         "recover_s_end": base["commitlog.recover_s_end"]},
        {"versions_end": artl["per_layer"]["commitlog.versions_end"]["value"],
         "recover_s_end": artl["per_layer"]["commitlog.recover_s_end"]["value"]}]
    # seed-state probe 2: read build seconds against live files, over a
    # longer maintenance period so the live set spans a range
    _, _, rr = run("read_mix", args.seed, 2 * seconds, 1, params="maintain_every=6")
    files = rr["samples"].get("fit.live_files", [])
    build = rr["samples"].get("fit.read_build_s", [])
    report["read_build_vs_live_files"] = {
        "pairs": list(zip(files, build)),
        "slope_s_per_100_files": 100 * slope(files, build)}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {os.path.relpath(args.out, ROOT)}")


if __name__ == "__main__":
    main()
