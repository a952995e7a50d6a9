#!/usr/bin/env python3
"""Sink benchmark: one workload, one seed, one process.

    python3 sinkbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness together
with the engine's main sources (sbt, offline) into `.bench_build/`; later
runs reuse the build while the sources are unchanged. The run prints the
workload's metrics by name with their units, then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones and writes the span tree to
`.bench_build/sinkbench/trace/<workload>-seed<seed>.json`. The exit code
is non-zero when an output check fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import layers  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "sinkbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("trickle", "backlog_demux", "read_mix", "gated_docs")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"sinkbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    return env


def build():
    """Compile harness + engine once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                st = json.load(fh)
            if st.get("digest") == digest:
                return st["classpath"], st.get("archive")
        t0 = time.time()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800)
        with open(log) as fh:
            lines = fh.read().splitlines()
        cp = [ln for ln in lines if "classes" in ln and ".jar" in ln and ":" in ln
              and not ln.startswith("[")]
        if r.returncode != 0 or not cp:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            die("build failed (log above)")
        classpath = cp[-1]
        archive = train(classpath)
        if archive is None:
            sys.stderr.write(tail(os.path.join(BUILD, "train.log")))
            die("class-data-sharing archive dump failed (log above)")
        with open(stamp, "w") as fh:
            json.dump({"digest": digest, "classpath": classpath,
                       "archive": archive, "build_s": time.time() - t0}, fh)
        return classpath, archive


def java_cmd(classpath, work, archive=None, dump=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # C1 only: the runs are short and start cold, and C2 compilation
    # competing with the four task threads for the cores made run-to-run
    # timings noisy (see README: JVM settings)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if archive:
        # -Xshare:on: a run that cannot map the archive stops instead of
        # starting seconds slower than the runs it is compared with
        cmd += [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "sinkbench.Main"]


def train(classpath):
    """Dump a class-data-sharing archive from one-second runs of every workload,
    so each benchmark process starts without re-loading and re-verifying
    Spark's classes. Returns the archive path, or None if it failed (the
    build then fails)."""
    archive = os.path.join(BUILD, "classes.jsa")
    work = os.path.join(BUILD, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    cmd = java_cmd(classpath, work, dump=archive) + [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--work", work,
        "--out", os.path.join(work, "raw.json"), "--cores", str(os.cpu_count() or 1)]
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        r = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    return archive if r.returncode == 0 and os.path.exists(archive) else None


def launch(args, classpath, archive, work, raw_path, cores):
    cmd = java_cmd(classpath, work, archive=archive) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", raw_path,
            "--corrupt", "1" if args.corrupt else "0",
            "--params", args.params]
    log = os.path.join(BUILD, "logs",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}-c{cores}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    return p.returncode, log


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark local[N]; default: the machine's CPU count")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: alter one committed row before the checks")
    ap.add_argument("--params", default="",
                    help="probe knobs of report.py: history_versions=N "
                         "(trickle), maintain_every=N (read_mix)")
    ap.add_argument("--raw-out", default="",
                    help="also copy the raw run record to this path")
    args = ap.parse_args()
    cores = args.cores or os.cpu_count() or 1

    classpath, archive = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        code, log = launch(args, classpath, archive, work, raw_path, cores)
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(tail(log))
            die(f"benchmark process failed (exit {code}); log: {os.path.relpath(log, ROOT)}", 1)
        with open(raw_path) as fh:
            raw = json.load(fh)
        if args.raw_out:
            shutil.copy(raw_path, args.raw_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = layers.evaluate(raw)
    for name, (value, unit) in res["named"].items():
        print(f"{args.workload:14s} {name:24s} {value:14.6g} {unit}")
    for c in res["failed_checks"]:
        print(f"FAILED CHECK {c['name']}: {c['detail']}")
    if args.trace:
        out_dir = os.path.join(BUILD, "trace")
        os.makedirs(out_dir, exist_ok=True)
        art = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"{'-c%d' % cores if args.cores else ''}.json")
        with open(art, "w") as fh:
            json.dump(res["artifact"], fh, indent=1)
        print(f"trace artifact: {os.path.relpath(art, ROOT)}")
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
