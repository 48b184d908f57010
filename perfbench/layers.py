"""Per-layer metrics and spans of the traced run.

Layers are named after the program's modules: `graft.sources`,
`graft.streaming` (micro-batches, the `HighWatermarkDedup` state and the
`WebhookSink`), `graft.queries`, `graft.plans` (Catalyst phases) and
`graft.operators` (executor-side work). Every workload reports every metric;
a layer a workload does not run reports 0 (the stream layers on the batch
workload). The unit of work is one micro-batch for the stream
workload and one pass over the query set for the batch workload.
"""
import datetime
import json
import os
import statistics

PER_LAYER = [
    ("sources.ingest_lag_lines_p99", "lines"),
    ("sources.latest_offset_ms", "ms"),
    ("sources.ndjson_feed_mb_per_s", "MB/s"),
    ("sources.ndjson_valid_ratio", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.rows_per_batch_p50", "rows"),
    ("streaming.planning_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.commit_offsets_ms_p50", "ms"),
    ("streaming.pre_sink_ms_p50", "ms"),
    ("streaming.dedup_pass_ratio", "ratio"),
    ("state.rows_total", "count"),
    ("state.rows_updated", "count"),
    ("state.memory_mb", "MB"),
    ("state.commit_ms_p50", "ms"),
    ("state.updates_ms", "ms"),
    ("sink.deliver_ms_p50", "ms"),
    ("sink.active_s", "s"),
    ("sink.posts", "count"),
    ("sink.posts_per_connection", "ratio"),
    ("queries.build_s", "s"),
    ("queries.driver_gap_s", "s"),
    ("plans.analysis_s", "s"),
    ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"),
    ("operators.jobs", "count"),
    ("operators.stages", "count"),
    ("operators.tasks", "count"),
    ("operators.job_wait_ms_p50", "ms"),
    ("operators.executor_run_s", "s"),
    ("operators.executor_cpu_s", "s"),
    ("operators.gc_s", "s"),
    ("operators.shuffle_write_mb", "MB"),
    ("operators.spill_mb", "MB"),
    ("operators.task_skew_max", "ratio"),
    ("operators.core_busy_ratio", "ratio"),
    ("gen.lateness_p99_ms", "ms"),
]


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]); 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def _operators(trace, lo, hi, units, cores):
    """Executor-side metrics for jobs that started inside [lo, hi)."""
    jobs = [j for j in trace["jobs"] if lo <= j["start"] < hi]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in trace["stages"] if s["id"] in stage_ids]
    by_id = {s["id"]: s for s in stages}
    waits = []
    for j in jobs:
        launches = [by_id[s]["first_launch"] for s in j["stages"]
                    if s in by_id and by_id[s]["first_launch"] >= 0]
        if launches:
            waits.append(1e3 * (min(launches) - j["start"]))
    skews = []
    for s in stages:
        if len(s["task_s"]) >= 2 and statistics.median(s["task_s"]) > 0:
            skews.append(max(s["task_s"]) / statistics.median(s["task_s"]))
    run_s = sum(s["run_s"] for s in stages)
    u = max(1, units)
    return {
        "operators.jobs": len(jobs) / u,
        "operators.stages": len(stages) / u,
        "operators.tasks": sum(s["tasks"] for s in stages) / u,
        "operators.job_wait_ms_p50": quantile(waits, 0.5),
        "operators.executor_run_s": run_s / u,
        "operators.executor_cpu_s": sum(s["cpu_s"] for s in stages) / u,
        "operators.gc_s": sum(s["gc_s"] for s in stages) / u,
        "operators.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6 / u,
        "operators.spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6 / u,
        "operators.task_skew_max": max(skews) if skews else 1.0,
        "operators.core_busy_ratio": run_s / ((hi - lo) * cores) if hi > lo else 0.0,
    }, jobs


def _plans(trace, lo, hi, units):
    plans = [p for p in trace["plans"] if lo <= p["t"] < hi + 1.0]
    u = max(1, units)
    return {"plans.%s" % k: sum(p[k] for p in plans) / u
            for k in ("analysis_s", "optimization_s", "planning_s")}


def _progress(out):
    """Micro-batch progress events, with start/end on the harness clock."""
    wall0 = out["wall0_ms"] / 1e3
    events = []
    for text in out["trace"]["progress"]:
        p = json.loads(text)
        ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = ts.replace(tzinfo=datetime.timezone.utc).timestamp() - wall0
        d = p.get("durationMs", {})
        p["_start"] = start
        p["_end"] = start + d.get("triggerExecution", 0) / 1e3
        events.append(p)
    return events


def _stream(res, out, inputs, spec):
    """Fixed per-batch costs from the steady phase, per-row costs from the
    measured bursts, the rest over the whole measured window."""
    kinds, starts, run = inputs["kinds"], res["phase_start"], res["phases_run"]
    lo, hi = res["measure_start"], res["measure_end"]
    ks = kinds.index("steady")
    bursts = [k for k in range(run) if kinds[k] == "burst"]
    steady_win = (starts[ks], starts[ks + 1] if ks + 1 < run else hi)
    burst_win = (starts[bursts[0]], hi) if bursts else (hi, hi)
    progress = [p for p in _progress(out) if p["numInputRows"] > 0]

    def within(win):
        return [p for p in progress if win[0] <= p["_start"] < win[1]]

    steady, burst, measured = within(steady_win), within(burst_win), within((lo, hi))

    def dur(batches, key):
        return [p["durationMs"].get(key, 0) for p in batches]

    m = {}
    # lines the generator had completed when a batch ended vs the source's
    # end offset (the source counts valid lines only)
    done = sorted((t, w[3]) for t, w in zip(res["written"], spec["writes"]) if t >= 0)
    lags = []
    for p in measured:
        end = p["sources"][0].get("endOffset")
        if end is not None:
            lags.append(sum(v for t, v in done if t <= p["_end"]) - int(end))
    m["sources.ingest_lag_lines_p99"] = quantile(lags, 0.99)
    m["sources.latest_offset_ms"] = quantile(dur(steady, "latestOffset"), 0.5)
    feed = res["ndjson"]
    m["sources.ndjson_feed_mb_per_s"] = feed["bytes"] / 1e6 / feed["seconds"]
    m["sources.ndjson_valid_ratio"] = feed["valid_lines"] / max(1, len(inputs["stream"]["lines"]))
    m["streaming.batches"] = len(steady)
    m["streaming.rows_per_batch_p50"] = quantile([p["numInputRows"] for p in steady], 0.5)
    m["streaming.planning_ms_p50"] = quantile(dur(steady, "queryPlanning"), 0.5)
    m["streaming.add_batch_ms_p50"] = quantile(dur(steady, "addBatch"), 0.5)
    m["streaming.wal_commit_ms_p50"] = quantile(dur(steady, "walCommit"), 0.5)
    m["streaming.commit_offsets_ms_p50"] = quantile(dur(steady, "commitOffsets"), 0.5)

    posts = res["posts"]

    def deliveries(win):
        """(deliver span, receiver times of its POSTs) per batch in win."""
        out_ = []
        for d in res["delivers"]:
            if win[0] <= d["start"] < win[1]:
                out_.append((d, [p["t"] for p in posts if d["start"] <= p["t"] <= d["end"] + 0.05]))
        return out_

    pre, active = [], 0.0
    for d, ts in deliveries(burst_win):
        if ts:
            active += max(ts) - min(ts)
            begun = [p["_start"] for p in burst if p["_start"] <= d["start"]]
            if begun:
                pre.append(1e3 * (min(ts) - max(begun)))
    m["streaming.pre_sink_ms_p50"] = quantile(pre, 0.5)
    phase_of = {n["id"]: n["phase"] for n in inputs["notes"]}
    measured_phases = [k for k in range(run) if kinds[k] != "warmup"]
    reaching = sum(inputs["counters"][k]["reaching_dedup"] for k in measured_phases)
    delivered = {p["id"] for p in posts
                 if p["dest"] == "discord" and phase_of.get(p["id"]) in measured_phases}
    m["streaming.dedup_pass_ratio"] = len(delivered) / max(1, reaching)
    states = [p["stateOperators"][0] for p in measured if p.get("stateOperators")]
    m["state.rows_total"] = states[-1]["numRowsTotal"] if states else 0
    m["state.rows_updated"] = sum(s["numRowsUpdated"] for s in states)
    m["state.memory_mb"] = states[-1]["memoryUsedBytes"] / 1e6 if states else 0.0
    m["state.commit_ms_p50"] = quantile([p["stateOperators"][0].get("commitTimeMs", 0)
                                   for p in steady if p.get("stateOperators")], 0.5)
    m["state.updates_ms"] = sum(p["stateOperators"][0].get("allUpdatesTimeMs", 0)
                                for p in burst if p.get("stateOperators")) / max(1, len(bursts))
    m["sink.deliver_ms_p50"] = quantile([1e3 * (d["end"] - d["start"]) for d, _ in deliveries(steady_win)], 0.5)
    m["sink.active_s"] = active / max(1, len(bursts))
    window_posts = [p for p in posts if lo <= p["t"] <= hi]
    m["sink.posts"] = len(window_posts)
    m["sink.posts_per_connection"] = len(window_posts) / max(1, len({p["port"] for p in window_posts}))
    m["queries.build_s"] = res["build_s"]
    ops, jobs = _operators(out["trace"], lo, hi, len(measured), spec["cores"])
    m.update(ops)
    busy = _union(_clip([(j["start"], j["end"]) for j in jobs], lo, hi))
    m["queries.driver_gap_s"] = ((hi - lo) - busy) / max(1, len(measured))
    m.update(_plans(out["trace"], lo, hi, len(measured)))
    late = [1e3 * (t - (starts[w[0]] + w[1] / 1e3))
            for t, w in zip(res["written"], spec["writes"]) if t >= 0 and w[0] == ks]
    m["gen.lateness_p99_ms"] = quantile(late, 0.99)
    return m


def _batch(res, out, spec):
    passes = res["passes"]
    n = len(passes)
    lo, hi = res["measure_start"], res["measure_end"]
    m = {k: 0.0 for k, _ in PER_LAYER}
    builds = [s["built"] - s["start"] for s in res["samples"]]
    m["queries.build_s"] = sum(builds) / max(1, n)
    ops, jobs = _operators(out["trace"], lo, hi, n, spec["cores"])
    m.update(ops)
    gaps = []
    for p in passes:
        spans = _clip([(j["start"], j["end"]) for j in jobs], p["start"], p["end"])
        gaps.append((p["end"] - p["start"]) - _union(spans))
    m["queries.driver_gap_s"] = statistics.median(gaps) if gaps else 0.0
    m.update(_plans(out["trace"], lo, hi, n))
    return m


def per_layer(kind, res, out, inputs, spec):
    if kind == "stream":
        m = _stream(res, out, inputs, spec)
    else:
        m = _batch(res, out, spec)
    units = dict(PER_LAYER)
    return {k: (float(m.get(k, 0.0)), units[k]) for k, _ in PER_LAYER}


# ------------------------------------------------------------------ spans

def _spans(kind, res, out):
    """Span tree of the traced run: (id, name, start, end, parent)."""
    spans = []

    def add(name, a, b, parent):
        spans.append({"id": len(spans) + 1, "name": name, "start": a, "end": b, "parent": parent})
        return len(spans)

    trace = out["trace"]
    stages = {s["id"]: s for s in trace["stages"]}
    root = add("workload", res["measure_start"], res["measure_end"], 0)

    def jobs_under(parent, a, b):
        for j in trace["jobs"]:
            if a <= j["start"] < b:
                jid = add("job", j["start"], j["end"], parent)
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s and s["submit"] >= 0:
                        add("stage", s["submit"], s["end"], jid)

    if kind == "batch":
        for p in res["passes"]:
            pid = add("pass", p["start"], p["end"], root)
            for s in res["samples"]:
                if s["pass"] != p["pass"]:
                    continue
                qid = add("query", s["start"], s["end"], pid)
                bid = add("queries.build", s["start"], s["built"], qid)
                jobs_under(bid, s["start"], s["built"])
                wid = add("write", s["built"], s["end"], qid)
                jobs_under(wid, s["built"], s["end"])
    else:
        lo, hi = res["measure_start"], res["measure_end"]
        delivers = res["delivers"]
        for p in _progress(out):
            if not (lo <= p["_start"] < hi):
                continue
            bid = add("micro_batch", p["_start"], p["_end"], root)
            t = p["_start"]
            for part in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                         "commitOffsets"):
                d = p["durationMs"].get(part, 0) / 1e3
                if part == "addBatch":
                    aid = add("streaming.addBatch", t, t + d, bid)
                    for dl in delivers:
                        if t <= dl["start"] < t + d:
                            did = add("sink.deliver", dl["start"], dl["end"], aid)
                            jobs_under(did, dl["start"], dl["end"])
                            for post in res["posts"]:
                                if dl["start"] <= post["t"] <= dl["end"]:
                                    add("post", post["t"], post["t"], did)
                else:
                    add("streaming." + part, t, t + d, bid)
                t += d
    return spans


def self_times(spans):
    """Per span name: total duration minus the part its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = _clip([(c["start"], c["end"]) for c in children.get(s["id"], [])], s["start"], s["end"])
        own = max(0.0, (s["end"] - s["start"]) - _union(kids))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def report_trace(workload, seed, kind, res, out, e2e, build_dir):
    spans = _spans(kind, res, out)
    run_id = "%s-%d" % (workload, seed)
    for s in spans:
        s["run"] = run_id
    with open(os.path.join(build_dir, "trace-%s.json" % run_id), "w") as f:
        json.dump(spans, f)
    for name, t in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        print("self_time %-22s %.6f s" % (name, t))
    path = os.path.join(build_dir, "untraced-%s.json" % workload)
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)
        for k, v in sorted(e2e.items()):
            if base.get(k):
                med = statistics.median(base[k])
                print("tracing_overhead %s traced %.6f untraced median %.6f (%+.1f%%, %d runs)"
                      % (k, v, med, 100.0 * (v - med) / med, len(base[k])))
    else:
        print("tracing_overhead unknown: no untraced run of %s in this checkout" % workload)


def save_untraced(workload, e2e, build_dir):
    """Keep every untraced run's end-to-end numbers, for the overhead report."""
    path = os.path.join(build_dir, "untraced-%s.json" % workload)
    base = {}
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)
    for k, v in e2e.items():
        base.setdefault(k, []).append(v)
    with open(path, "w") as f:
        json.dump(base, f)
