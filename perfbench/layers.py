"""Per-layer metrics of a traced run (`run.py --trace 1`).

Spans come from the harness's own code around the calls into each layer
(see Trace.scala); trigger spans are rebuilt from StreamingQueryProgress.
A span's self time is its duration minus the part of it that its child
spans cover. Every metric is always reported: a layer a workload bypasses
reads 0.
"""
import statistics

METRICS = [
    ("transport.read_s", "s"), ("transport.driver_s", "s"),
    ("transport.requests_get_records", "count"), ("transport.requests_other", "count"),
    ("transport.requests_put_records", "count"), ("transport.records_fetched", "count"),
    ("transport.bytes_fetched", "bytes"), ("transport.fetch_amplification", "ratio"),
    ("transport.fetch_amplification_base", "count"), ("transport.self_s", "s"),
    ("sources.records_out", "count"), ("sources.read_calls", "calls"),
    ("sources.read_calls_base", "count"), ("sources.latest_offset_ms", "ms"),
    ("sources.backlog_slope_eps", "records/s"), ("sources.self_s", "s"),
    ("streaming.process_batch_s", "s"), ("streaming.attempt_ratio", "ratio"),
    ("streaming.attempt_ratio_base", "count"), ("streaming.retry_rounds", "count"),
    ("streaming.dead_lettered", "count"), ("streaming.self_s", "s"),
    ("sinks.write_s", "s"), ("sinks.put_requests", "count"),
    ("sinks.records_per_put", "ratio"), ("sinks.records_per_put_base", "count"),
    ("sinks.put_retries", "count"), ("sinks.self_s", "s"),
    ("microbatch.batches", "count"), ("microbatch.records_per_batch", "count"),
    ("microbatch.trigger_ms", "ms"), ("microbatch.add_batch_ms", "ms"),
    ("microbatch.wal_commit_ms", "ms"), ("microbatch.commit_offsets_ms", "ms"),
    ("microbatch.query_planning_ms", "ms"), ("microbatch.self_s", "s"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.cuts", "count"), ("operators.plan_s", "s"),
    ("operators.exec_s", "s"), ("operators.self_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.task_run_s", "s"),
    ("scheduler.task_cpu_s", "s"), ("scheduler.gc_s", "s"),
    ("scheduler.idle_s", "s"), ("scheduler.shuffle_mb", "MB"),
    ("scheduler.spill_mb", "MB"), ("scheduler.self_s", "s"),
    ("stub.cpu_s", "s"), ("stub.requests", "count"), ("stub.gen_late_ms_max", "ms"),
    ("trace.overhead_pct", "%"),
]

# span nesting: a span's children are the spans one level down in its group
LEVEL = {
    "microbatch.trigger": 0, "query": 0,
    "transport.driver": 1, "streaming.process_batch": 1, "sinks.write": 1,
    "operators.build": 1, "operators.plan": 1, "operators.exec": 1,
    "scheduler.job": 2, "transport.read": 3,
}
SELF = {  # span name -> layer whose self time it adds to
    "microbatch.trigger": "microbatch", "transport.driver": "transport",
    "transport.read": "transport", "streaming.process_batch": "streaming",
    "sinks.write": "sinks", "operators.build": "operators",
    "operators.plan": "operators", "operators.exec": "operators",
    "scheduler.job": "scheduler",
}


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """{layer: self seconds}; spans are (name, group, start_ns, end_ns)."""
    by_level = {}
    for sp in spans:
        by_level.setdefault(LEVEL[sp[0]], []).append(sp)
    out = {}
    for name, group, s, e in spans:
        kids = [(max(s, ks), min(e, ke))
                for _, kg, ks, ke in by_level.get(LEVEL[name] + 1, [])
                if (kg == group or kg == "") and ks < e and ke > s]
        if name in SELF:
            layer = SELF[name]
            out[layer] = out.get(layer, 0.0) + max(0, (e - s) - _union(kids)) / 1e9
    return out


def _spans(report, keep):
    return [(n, g, s, e) for n, g, _, s, e in report["spans"] if keep(g)]


def _sum(spans, name):
    return sum(e - s for n, _, s, e in spans if n == name) / 1e9


def _scheduler(m, scheds, wall_s, cores):
    def tot(k):
        return sum(x[k] for x in scheds)
    m["scheduler.jobs"] = tot("jobs")
    m["scheduler.stages"] = tot("stages")
    m["scheduler.tasks"] = tot("tasks")
    m["scheduler.task_run_s"] = tot("task_run_ms") / 1000
    m["scheduler.task_cpu_s"] = tot("task_cpu_ns") / 1e9
    m["scheduler.gc_s"] = tot("gc_ms") / 1000
    m["scheduler.idle_s"] = wall_s - m["scheduler.task_run_s"] / cores
    m["scheduler.shuffle_mb"] = tot("shuffle_bytes") / 1048576
    m["scheduler.spill_mb"] = tot("spill_bytes") / 1048576


def _finish(m):
    return {k: (float(m.get(k, 0.0)), u) for k, u in METRICS}


def wire(run, steady, results, report):
    traced = [(res, chk) for tr, res, chk in results if tr]
    plain = [(res, chk) for tr, res, chk in results if not tr]
    qids = {res["query_id"] for res, _ in traced}
    to_ns = lambda ms: report["anchor_ns"] + (ms - report["anchor_wall_ms"]) * 1000000
    spans = _spans(report, lambda g: g == "" or g.split("/")[0] in qids)
    batches = [b for res, _ in traced for b in res["batches"]]
    for res, _ in traced:
        for b in res["batches"]:
            s = to_ns(b["start_ms"])
            spans.append(("microbatch.trigger", f"{res['query_id']}/b{b['batch']}",
                          s, s + b["durations"].get("triggerExecution", 0) * 1000000))
    selfs = self_times(spans)
    tot = lambda k: sum(res[k] for res, _ in traced)
    dur = lambda k: (statistics.mean(b["durations"].get(k, 0) for b in batches)
                     if batches else 0.0)
    c = report["counters"]
    delivered = sum(chk["delivered"] for _, chk in traced)
    # user records the stub served, to the driver and the executors alike
    fetched = sum(chk["served_user_records"] for _, chk in traced)
    pairs = sum(1 for k in c if k.startswith("read_calls."))
    m = {
        "transport.read_s": _sum(spans, "transport.read"),
        "transport.driver_s": _sum(spans, "transport.driver"),
        "transport.requests_get_records": tot("get_records"),
        "transport.requests_other": tot("source_requests") - tot("get_records"),
        "transport.requests_put_records": tot("put_requests"),
        "transport.records_fetched": fetched,
        "transport.bytes_fetched": tot("bytes_fetched"),
        "transport.fetch_amplification": fetched / delivered if delivered else 0.0,
        "transport.fetch_amplification_base": delivered,
        "transport.self_s": selfs.get("transport", 0.0),
        "sources.records_out": sum(b["rows"] for b in batches),
        "sources.read_calls": c.get("sources.read_calls", 0) / pairs if pairs else 0.0,
        "sources.read_calls_base": pairs,
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.backlog_slope_eps": statistics.median(
            chk["backlog_slope_eps"] for _, chk in traced),
        "streaming.process_batch_s": _sum(spans, "streaming.process_batch"),
        "streaming.attempt_ratio": tot("attempts") / tot("records") if tot("records") else 0.0,
        "streaming.attempt_ratio_base": tot("records"),
        "streaming.retry_rounds": tot("retry_rounds"),
        "streaming.dead_lettered": tot("dead_lettered"),
        "streaming.self_s": selfs.get("streaming", 0.0),
        "sinks.write_s": _sum(spans, "sinks.write"),
        "sinks.put_requests": tot("put_requests"),
        "sinks.records_per_put": (tot("user_records_put") / tot("put_requests")
                                  if tot("put_requests") else 0.0),
        "sinks.records_per_put_base": tot("put_requests"),
        "sinks.put_retries": tot("put_retries"),
        "sinks.self_s": selfs.get("sinks", 0.0),
        "microbatch.batches": len(batches),
        "microbatch.records_per_batch": tot("records") / len(batches) if batches else 0.0,
        "microbatch.trigger_ms": dur("triggerExecution"),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.wal_commit_ms": dur("walCommit"),
        "microbatch.commit_offsets_ms": dur("commitOffsets"),
        "microbatch.query_planning_ms": dur("queryPlanning"),
        "microbatch.self_s": selfs.get("microbatch", 0.0),
        "scheduler.self_s": selfs.get("scheduler", 0.0),
        "stub.cpu_s": tot("stub_cpu_ms") / 1000,
        "stub.requests": sum(chk["requests"] for _, chk in traced),
        "stub.gen_late_ms_max": max(chk["gen_late_ms_max"] for _, chk in traced),
    }
    # the source's own share of each trigger's latestOffset phase (the
    # phase opens the trigger): its length minus the driver calls inside
    drivers = [(s, e) for n, _, s, e in spans if n == "transport.driver"]
    m["sources.self_s"] = 0.0
    for res, _ in traced:
        for b in res["batches"]:
            s = to_ns(b["start_ms"])
            e = s + b["durations"].get("latestOffset", 0) * 1000000
            inside = _union([(max(s, a), min(e, z)) for a, z in drivers if a < e and z > s])
            m["sources.self_s"] += max(0, (e - s) - inside) / 1e9
    _scheduler(m, [res["sched"] for res, _ in traced], tot("wall_s"), run.cores)
    # tracing overhead on the workload's headline metric
    if steady:
        key, worse = "latency_p50_ms", lambda t, p: t / p
    else:
        key, worse = "throughput_eps", lambda t, p: p / t
    t = statistics.median(chk[key] for _, chk in traced)
    p = statistics.median(chk[key] for _, chk in plain) if plain else t
    m["trace.overhead_pct"] = (worse(t, p) - 1) * 100 if t and p else 0.0
    run.notes["traced_lanes"] = len(traced)
    return _finish(m)


def analytics(run, names, passes, report):
    """`passes` are the timed passes after the first, which settles the JIT."""
    traced = [i for i, p in enumerate(passes) if p["traced"]]
    groups = {f"q{n}#{i + 1}" for n in names for i in traced}
    spans = _spans(report, lambda g: g in groups)
    selfs = self_times(spans)
    builds = [(g, s, e) for n, g, s, e in spans if n == "operators.build"]
    jobs = [(g, s) for n, g, s, _ in spans if n == "scheduler.job"]
    m = {
        "operators.build_s": _sum(spans, "operators.build"),
        "operators.build_jobs": sum(1 for g, s, e in builds for jg, js in jobs
                                    if jg == g and s <= js <= e),
        "operators.cuts": report["counters"].get("operators.cuts", 0),
        "operators.plan_s": _sum(spans, "operators.plan"),
        "operators.exec_s": _sum(spans, "operators.exec"),
        "operators.self_s": selfs.get("operators", 0.0),
        "scheduler.self_s": selfs.get("scheduler", 0.0),
    }
    tp = [passes[i] for i in traced]
    _scheduler(m, [p["sched"] for p in tp], sum(p["wall_s"] for p in tp), run.cores)
    total = lambda p: sum(q["wall_s"] for q in p["queries"].values())
    t = statistics.median(total(p) for p in tp)
    plain = [total(p) for p in passes if not p["traced"]]
    m["trace.overhead_pct"] = (t / statistics.median(plain) - 1) * 100 if plain else 0.0
    run.notes["traced_passes"] = len(tp)
    return _finish(m)
