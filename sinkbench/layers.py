"""Turn one raw run record into the benchmark's metrics.

`evaluate(raw)` returns the end-to-end metrics (BENCHMARK.json
`end_to_end`), the per-layer metrics (`per_layer`), the workload's
metrics under the names the benchmark doc uses, the validity checks of
the open-loop workload, and the span tree of the traced run.
"""
from metrics import (backlog_growth, backlog_max, batch_end, covering_batch, freshness, late_triggers,
                     lateness, pct, self_times, slope, tail_ok)

END_TO_END = {
    "setup_s": "s",
    "latency_s_p50": "s",
    "latency_s_p90": "s",
    "rows_per_s": "rows/s",
    "files_per_krow": "files/krow",
    "stored_bytes_per_row": "B/row",
}

PER_LAYER = {
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.offset_log_s_p50": "s",
    "streaming.plan_s_p50": "s",
    "streaming.late_triggers": "count",
    "streaming.backlog_rows_max": "rows",
    "streaming.rows_per_batch_p50": "rows",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.task_s_per_krow": "s/krow",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_bytes_per_row": "B/row",
    "spark.output_bytes_per_row": "B/row",
    "spark.gc_share": "ratio",
    "spark.spill_bytes": "B",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "commitlog.append_s_p50": "s",
    "commitlog.maintain_s": "s",
    "commitlog.snapshot_s_p50": "s",
    "commitlog.read_build_s_p50": "s",
    "commitlog.read_exec_s_p50": "s",
    "commitlog.live_files_p50": "count",
    "commitlog.live_files_max": "count",
    "commitlog.compact_s": "s",
    "commitlog.checkpoint_s": "s",
    "commitlog.vacuum_s": "s",
    "commitlog.erase_s": "s",
    "commitlog.compact_files_in": "count",
    "commitlog.compact_files_out": "count",
    "commitlog.versions_end": "count",
    "commitlog.recover_s_end": "s",
    "files.live": "count",
    "files.orphan": "count",
    "files.live_bytes": "B",
    "files.log_bytes": "B",
    "files.partition_dirs": "count",
    "gate.drop_ratio": "ratio",
    "gate.index_bytes_end": "B",
    "gate.batch_s_slope": "s/krow",
    "functions.sig_s_per_krow": "s/krow",
    "gen.late_s_max": "s",
    "gen.rows": "rows",
    "gen.bytes": "B",
    "jvm.gc_s": "s",
    "jvm.live_heap_mb_peak": "MB",
    "trace.attributed_share_min": "ratio",
}

# Order of the durationMs parts inside one micro-batch.
PARTS = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
         "commitOffsets"]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _phases(spans):
    """The phase spans (setup, warmup, timed, check): children of the
    workload's root span."""
    roots = {s["id"] for s in spans if s["parent"] == 0}
    return [s for s in spans if s["parent"] in roots]


def _phase(spans, name):
    return next((s for s in _phases(spans) if s["name"] == name), None)


def build_tree(raw):
    """Harness spans plus, under their ops, one span per micro-batch
    trigger, its durationMs parts (laid end to end in execution order)
    and every Spark job. Returns (spans, op_spans)."""
    spans = [dict(s) for s in raw["spans"]]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    timed = _phase(spans, "timed")
    query = raw.get("query")
    by_op = {}
    for s in spans:
        if s["op"]:
            by_op.setdefault(s["op"], []).append(s)
    op_roots = [s for s in spans if s["op"] and s["parent"] == (timed or {}).get("id")]
    batch_parent = {}  # "batch:<query>:<id>" -> parent span id for jobs
    for p in raw["progress"]:
        if p["query"] != query:
            continue
        key = f"batch:{p['query']}:{p['batch']}"
        start, end = p["start"], batch_end(p)
        # the harness op (a fed chunk) that contains this trigger, if any
        owner = next((s for s in spans if s["name"] == "batch" and s["op"]
                      and s["start"] - 0.005 <= start <= s["end"]), None)
        if owner is not None:
            parent, op = owner["id"], owner["op"]
        else:
            phase = next((s for s in _phases(spans) if s["start"] <= start < s["end"]),
                         None)
            parent, op = (phase or {"id": 0})["id"], key
        trig = {"id": next_id, "parent": parent, "name": "trigger", "op": op,
                "start": start, "end": end}
        next_id += 1
        spans.append(trig)
        if owner is None and timed is not None and parent == timed["id"]:
            op_roots.append(trig)
        t = start
        batch_parent[key] = trig["id"]
        for part in PARTS:
            d = p["durations"].get(part)
            if d is None:
                continue
            s = {"id": next_id, "parent": trig["id"], "name": part, "op": op,
                 "start": t, "end": t + d / 1e3}
            next_id += 1
            spans.append(s)
            t = s["end"]
            if part == "addBatch":
                batch_parent[key] = s["id"]
        by_op.setdefault(op, []).extend([s for s in spans[-(len(PARTS) + 1):]
                                         if s["op"] == op])
    for j in raw["jobs"]:
        op = j["op"]
        if not op:
            continue
        if op in batch_parent:
            parent = batch_parent[op]
            op_name = next((s["op"] for s in spans if s["id"] == parent), op)
        elif op in by_op:
            # deepest harness span of this op that holds the job start
            holders = [s for s in by_op[op] if s["start"] - 0.005 <= j["start"] <= s["end"] + 0.005]
            if not holders:
                continue
            parent = max(holders, key=lambda s: s["start"])["id"]
            op_name = op
        else:
            continue
        spans.append({"id": next_id, "parent": parent, "name": "job", "op": op_name,
                      "start": j["start"], "end": max(j["end"], j["start"])})
        next_id += 1
    return spans, op_roots


def evaluate(raw):
    w = raw["workload"]
    v = raw["values"]
    smp = raw["samples"]
    cores = raw["cores"]
    attempted, failed = raw["attempted"], raw["failed"]
    failed_checks = list(raw.get("failed_checks", []))
    spans = raw["spans"]
    t_from = raw.get("timed_from", 0.0)
    t_to = raw.get("timed_to", t_from)
    wall = max(1e-9, t_to - t_from)
    query = raw.get("query")
    prog = [p for p in raw["progress"] if p["query"] == query]
    named = {}
    layer = {k: 0.0 for k in PER_LAYER}

    def validity(name, ok, detail):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            failed_checks.append({"name": name, "detail": detail})

    # first timed op: everything before it is set-up, except trickle's
    # wait for a trigger tick to start the schedule on (a harness sleep)
    setup_s = t_from - raw.get("align_wait_s", 0.0)
    if w == "trickle":
        appends = [a for a in raw["appends"] if t_from <= a[0] < t_to]
        fresh = freshness(appends, prog)
        missing = sum(1 for f in fresh if f is None)
        fresh = [f for f in fresh if f is not None]
        late = lateness(appends)
        interval = raw["interval_s"]
        rate = sum(a[3] for a in appends) / wall
        back = backlog_max(raw["appends"], prog, t_from, t_to)
        tprog = [p for p in prog if t_from <= p["start"] < t_to]
        validity("trickle.appends_committed", missing == 0,
                 f"{missing} timed appends never committed")
        validity("trickle.generator_on_time", max(late, default=0) <= interval / 2,
                 f"generator {max(late, default=0):.3f}s behind schedule")
        grew = backlog_growth(raw["appends"], prog, t_from, t_to)
        validity("trickle.backlog_not_growing", grew <= rate * interval,
                 f"backlog grew by {grew:.0f} rows (> one interval of input)")
        validity("trickle.tail_samples", tail_ok(len(fresh), 0.9),
                 f"only {len(fresh)} freshness samples")
        lat50, lat90 = pct(fresh, 0.5), pct(fresh, 0.9)
        named["fresh_s_p50"] = (lat50, "s")
        named["fresh_s_p90"] = (lat90, "s")
        # committed rows over the time from the first timed append's due
        # time to the end of the batch that committed the last one
        last = covering_batch(prog, int(appends[-1][2])) if appends else None
        span = (batch_end(last) if last else t_to) - (appends[0][0] if appends else t_from)
        rows_per_s = sum(a[3] for a in appends) / max(1e-9, span)
        stream_rows = v["committed.rows"] - raw["history_rows"]
        files = v["files.live"] - v["history.files"]
        fbytes = v["files.live_bytes"] - v["history.bytes"]
        layer["gen.late_s_max"] = max(late, default=0.0)
        layer["streaming.backlog_rows_max"] = back
        layer["streaming.late_triggers"] = late_triggers(tprog, interval)
    elif w in ("backlog_demux", "gated_docs"):
        batch = smp.get("batch_s", [])
        rows = v["timed.rows"]
        wall = v["timed.wall_s"]
        lat50, lat90 = pct(batch, 0.5), pct(batch, 0.9)
        rows_per_s = rows / wall
        named["ingest_rows_per_s"] = (rows_per_s, "rows/s")
        named["batch_s_p50"] = (lat50, "s")
        stream_rows = v["committed.rows"]
        files = v["files.live"]
        fbytes = v["files.live_bytes"]
        tprog = [p for p in prog if t_from <= p["start"] < t_to]
    else:  # read_mix
        q = smp.get("query_s", [])
        # fewer than the 100 samples the p90 rule asks for fit in one run;
        # the count is reported, not failed (see README)
        named["query_samples"] = (len(q), "count")
        lat50, lat90 = pct(q, 0.5), pct(q, 0.9)
        named["query_s_p50"] = (lat50, "s")
        named["query_s_p90"] = (lat90, "s")
        named["append_s_p50"] = (pct(smp.get("append_s", []), 0.5), "s")
        named["maintain_s"] = (_mean(smp.get("maintain_s", [])), "s")
        rows_per_s = sum(smp.get("append_rows", [])) / v["timed.wall_s"]
        # time-averaged over the cycles: the final live set depends on how
        # many cycles ran since the last maintenance round
        stream_rows = sum(smp.get("live_rows", [])) or v["committed.rows"]
        files = sum(smp.get("live_files", [])) or v["files.live"]
        fbytes = v["files.live_bytes"] / max(1.0, v["committed.rows"]) * stream_rows
        tprog = []
    files_per_krow = files / max(1.0, stream_rows) * 1000
    bytes_per_row = fbytes / max(1.0, stream_rows)
    named["files_per_krow"] = (files_per_krow, "files/krow")
    named["stored_bytes_per_row"] = (bytes_per_row, "B/row")
    named = {"setup_s": (setup_s, "s"), **named,
             "failed_ratio": (failed / max(1, attempted), "ratio")}
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_s_p50": (lat50, "s"),
        "latency_s_p90": (lat90, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "files_per_krow": (files_per_krow, "files/krow"),
        "stored_bytes_per_row": (bytes_per_row, "B/row"),
    }

    # ---- per-layer --------------------------------------------------
    for k in ("gen.rows", "gen.bytes", "jvm.gc_s", "jvm.live_heap_mb_peak",
              "files.live", "files.orphan", "files.live_bytes", "files.log_bytes",
              "files.partition_dirs", "commitlog.versions_end",
              "commitlog.recover_s_end", "gate.index_bytes_end",
              "functions.sig_s_per_krow"):
        if k in v:
            layer[k] = v[k]
    if tprog:
        d = lambda p, k: p["durations"].get(k, 0) / 1e3  # noqa: E731
        layer["streaming.trigger_s_p50"] = pct([d(p, "triggerExecution") for p in tprog], .5)
        layer["streaming.add_batch_s_p50"] = pct([d(p, "addBatch") for p in tprog], .5)
        layer["streaming.offset_log_s_p50"] = pct(
            [d(p, "walCommit") + d(p, "commitOffsets") for p in tprog], .5)
        layer["streaming.plan_s_p50"] = pct(
            [d(p, "latestOffset") + d(p, "getBatch") + d(p, "queryPlanning") for p in tprog], .5)
        layer["streaming.rows_per_batch_p50"] = pct([p["rows"] for p in tprog], .5)
        keys = {f"batch:{p['query']}:{p['batch']}" for p in tprog}
        jobs = [j for j in raw["jobs"] if j["op"] in keys]
        run_s = sum(j["run_s"] for j in jobs)
        rows_t = max(1.0, sum(p["rows"] for p in tprog))
        layer["spark.jobs_per_batch"] = len(jobs) / len(tprog)
        layer["spark.tasks_per_batch"] = sum(j["tasks"] for j in jobs) / len(tprog)
        layer["spark.task_s_per_krow"] = run_s / rows_t * 1000
        layer["spark.busy_ratio"] = run_s / (wall * cores)
        layer["spark.shuffle_bytes_per_row"] = sum(j["shuffle_bytes"] for j in jobs) / rows_t
        layer["spark.output_bytes_per_row"] = sum(j["output_bytes"] for j in jobs) / rows_t
        layer["spark.gc_share"] = sum(j["gc_s"] for j in jobs) / max(1e-9, run_s)
        layer["spark.spill_bytes"] = sum(j["spill_bytes"] for j in jobs)
    if w == "gated_docs":
        layer["gate.drop_ratio"] = v["gate.dropped"] / max(1.0, v["timed.rows"])
        xs = [c / 1000 for c in raw.get("corpus_rows", [])]
        layer["gate.batch_s_slope"] = slope(xs, smp.get("batch_s", [])[:len(xs)])
    if w == "read_mix":
        layer["commitlog.append_s_p50"] = named["append_s_p50"][0]
        layer["commitlog.maintain_s"] = named["maintain_s"][0]
        for k in ("snapshot_s", "read_build_s", "read_exec_s"):
            layer[f"commitlog.{k}_p50"] = pct(smp.get(f"commitlog.{k}", []), .5)
        lf = smp.get("commitlog.live_files", [])
        layer["commitlog.live_files_p50"] = pct(lf, .5) if lf else 0.0
        layer["commitlog.live_files_max"] = max(lf, default=0.0)
        for k in ("compact", "checkpoint", "vacuum", "erase"):
            layer[f"commitlog.{k}_s"] = _mean(smp.get(f"commitlog.{k}_s", []))
        for k in ("compact_files_in", "compact_files_out"):
            layer[f"commitlog.{k}"] = _mean(smp.get(f"commitlog.{k}", []))
        ops = {s["op"] for s in spans if s["name"].startswith("read.") and t_from <= s["start"] < t_to}
        jobs = [j for j in raw["jobs"] if j["op"] in ops]
        layer["spark.jobs_per_query"] = len(jobs) / max(1, len(ops))
        layer["spark.tasks_per_query"] = sum(j["tasks"] for j in jobs) / max(1, len(ops))
        run_s = sum(j["run_s"] for j in raw["jobs"] if t_from <= j["start"] < t_to)
        layer["spark.busy_ratio"] = run_s / (wall * cores)

    # ---- span tree (traced runs) -------------------------------------
    tree, op_roots = build_tree(raw)
    selfs = self_times(tree)
    ops = []
    for o in op_roots:
        dur = max(1e-9, o["end"] - o["start"])
        ops.append({"op": o["op"], "name": o["name"], "wall_s": dur,
                    "attributed_share": 1 - selfs[o["id"]] / dur})
    if ops and raw.get("trace"):
        layer["trace.attributed_share_min"] = min(o["attributed_share"] for o in ops)
    by_name = {}
    for s in tree:
        if s["op"] and t_from <= s["start"] < t_to:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    per_layer = {k: (float(layer[k]), u) for k, u in PER_LAYER.items()}
    artifact = {
        "workload": w, "seed": raw["seed"], "cores": cores,
        "end_to_end": {k: {"value": x, "unit": u} for k, (x, u) in e2e.items()},
        "named": {k: {"value": x, "unit": u} for k, (x, u) in named.items()},
        "per_layer": {k: {"value": x, "unit": u} for k, (x, u) in per_layer.items()},
        "self_time_by_span": by_name,
        "ops": ops,
        "phases": {s["name"]: s["end"] - s["start"] for s in _phases(spans)},
        "spans": [dict(s, self=selfs[s["id"]]) for s in tree],
        "failed_checks": failed_checks,
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "failed_checks": failed_checks, "named": named, "end_to_end": e2e,
            "per_layer": per_layer, "artifact": artifact}
