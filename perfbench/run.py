#!/usr/bin/env python3
"""Benchmark of the Nomad notifier and the batch operator registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source on first use
(`perfbench/build.py`), makes the workload's inputs from the seed, runs one
JVM with Spark `local[<cores>]`, checks every output, and prints the metrics.
The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1).

Workloads (see perfbench/RECORD.md for why each exists):
  nomad_stream     synthetic Nomad stream: open-loop steady phase, then
                   backlog bursts, through the notifier to webhook receivers
  batch_iterative  registry queries dominated by jobs and fixpoint loops
"""
import argparse
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import layers  # noqa: E402
import nomadgen  # noqa: E402
import oracle  # noqa: E402

STEADY_RATE = 50.0        # frames/s, open loop
TRIGGER_MS = 1000         # the query's processing-time trigger
WARMUP_FRAMES = 12        # the first micro-batch; its first POST ends set-up
WARMUP_STEADY_S = 12.0    # untimed steady traffic until batch times settle
BURST_FRAMES = 600        # frames per backlog burst
MIN_BURSTS = 3
STEADY_SHARE = 0.6        # of --seconds: the steady phase's length
MIN_PASSES = 3
WARMUP_PASSES = 1         # untimed noop passes after the checked one
# A fixed amount of measured work, so a faster program is measured on the
# same work: one burst, or one batch pass, per this many --seconds.
SECONDS_PER_BURST = 2.0
SECONDS_PER_PASS = 2.4
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

WORKLOADS = {
    "nomad_stream": {"kind": "stream"},
    "batch_iterative": {"kind": "batch", "sf": "0.01", "queries": [
        "q_kcore", "q_graph_reach", "q_dedup_clusters"]},
}

END_TO_END = [("setup_s", "s"), ("latency_s", "s"), ("latency_tail_s", "s"),
              ("throughput_per_s", "1/s"), ("live_heap_peak_mb", "MB")]


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ streams

def stream_spec(seed, seconds, work):
    """Phases of the one upstream connection: untimed warm-up (a few frames
    until the first POST, then steady traffic, then one burst), the measured
    steady phase, then measured backlog bursts."""
    steady_s = STEADY_SHARE * seconds
    bursts = max(MIN_BURSTS, round(seconds / SECONDS_PER_BURST))
    phases = [("warmup", WARMUP_FRAMES, None),
              ("warmup", int(STEADY_RATE * WARMUP_STEADY_S), STEADY_RATE),
              ("steady", int(STEADY_RATE * steady_s), STEADY_RATE),
              ("warmup", BURST_FRAMES, None)]
    phases += [("burst", BURST_FRAMES, None)] * bursts
    stream = nomadgen.build_stream(seed, [(n, r) for _, n, r in phases])
    notes, counters = nomadgen.expected(stream["lines"])
    phase_posts = [0] * len(phases)
    for n in notes:
        phase_posts[n["phase"]] += 2
    with open(os.path.join(work, "stream.bin"), "wb") as f:
        f.write(stream["data"])
    kinds = [k for k, _, _ in phases]
    spec = {
        "kind": "stream", "bytes_file": os.path.join(work, "stream.bin"),
        "writes": [list(w) for w in stream["writes"]], "phase_posts": phase_posts,
        "phase_kind": kinds, "trigger_ms": TRIGGER_MS,
        "phase_aligned": [k > 0 and rate is None for k, (_, _, rate) in enumerate(phases)],
        "drain_timeout_s": 20.0,
        "starting_index": nomadgen.STARTING_INDEX,
        "initial_watermark_ns": nomadgen.INITIAL_WATERMARK_NS,
        "denylist": nomadgen.DENYLIST, "allowlist": nomadgen.ALLOWLIST,
    }
    return spec, {"stream": stream, "notes": notes, "counters": counters, "kinds": kinds}


def check_stream(res, inputs):
    """Compare delivered POSTs with the model, per destination."""
    phases_run = res["phases_run"]
    expected = [n for n in inputs["notes"] if n["phase"] < phases_run]
    want = {}
    for n in expected:
        for dest in ("discord", "slack"):
            want.setdefault((dest, n["id"]), []).append(n)
    got = {}
    for p in res["posts"]:
        got.setdefault((p["dest"], p["id"]), []).append(p)
    missing = duplicated = unexpected = wrong = 0
    for key, notes in want.items():
        posts = got.get(key, [])
        missing += max(0, len(notes) - len(posts))
        duplicated += max(0, len(posts) - len(notes))
        for p in posts[:len(notes)]:
            try:
                body = json.loads(p["body"])
            except ValueError:
                body = None
            if body != notes[0][key[0]]:
                wrong += 1
    for key, posts in got.items():
        if key not in want:
            unexpected += len(posts)
    attempted = sum(len(v) for v in want.values())
    failed = missing + duplicated + unexpected + wrong
    return attempted, failed, {"missing": missing, "duplicated": duplicated,
                               "unexpected": unexpected, "wrong_payload": wrong}


def stream_end_to_end(res, inputs):
    """Latency over the steady phase: each notification's first POST minus
    the time its frame was due, as the median over three equal slices of
    the phase (a short stall moves one slice, not the result). Throughput
    over the bursts: their notifications over the summed time from each
    burst's first byte to its last POST, pooled rather than a median over
    bursts so that a slow stretch of the host counts at its share of the
    time."""
    kinds, phase_start = inputs["kinds"], res["phase_start"]
    first_post = {}
    for p in res["posts"]:
        first_post.setdefault((p["dest"], p["id"]), p["t"])
    by_id = {n["id"]: n for n in inputs["notes"]}
    steady = [[] for _ in range(3)]
    span = max([n["due_ms"] for n in inputs["notes"] if kinds[n["phase"]] == "steady"] + [0]) + 1e-9
    last, count = {}, {}
    for (dest, eid), t in first_post.items():
        n = by_id.get(eid)
        if n is None or n["phase"] >= res["phases_run"]:
            continue
        k = n["phase"]
        if kinds[k] == "steady":
            steady[min(2, int(3 * n["due_ms"] / span))].append(
                t - (phase_start[k] + n["due_ms"] / 1e3))
        elif kinds[k] == "burst":
            last[k] = max(last.get(k, 0.0), t)
            count[k] = count.get(k, 0) + 1
    active = sum(last[k] - phase_start[k] for k in count)
    return {
        "latency_s": median([layers.quantile(v, 0.5) for v in steady]),
        "latency_tail_s": median([layers.quantile(v, 0.99) for v in steady]),
        "throughput_per_s": sum(count.values()) / 2.0 / active if active else 0.0,
    }, "%d steady POSTs, %d bursts (%s)" % (sum(len(v) for v in steady), len(count), " ".join(
        "%d/%.3f" % (count[k] / 2, last[k] - phase_start[k]) for k in sorted(count)))


def median(values):
    """Median; 0 when a failed run measured nothing."""
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ batches

def testdata_dir(sf):
    """The test tables at scale factor `sf`, where TESTDATA.md puts them."""
    with open("TESTDATA.md") as f:
        found = re.search(r"\|\s*%s\s*\|\s*`([^`]+)`" % re.escape(sf), f.read())
    if not found or not os.path.isdir(found.group(1)):
        raise SystemExit("no test tables for scale factor %s (TESTDATA.md)" % sf)
    return found.group(1).rstrip("/")


def batch_spec(name, seed, seconds, work):
    queries = WORKLOADS[name]["queries"]
    rng = random.Random(seed)
    orders = []
    for _ in range(1 + WARMUP_PASSES + max(MIN_PASSES, round(seconds / SECONDS_PER_PASS))):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    spec = {"kind": "batch", "sf_dir": testdata_dir(WORKLOADS[name]["sf"]),
            "check_dir": os.path.join(work, "check"), "orders": orders,
            "warmup_passes": WARMUP_PASSES}
    return spec, {}


def batch_end_to_end(res):
    """Latency is the mean wall time over every measured query run, the tail
    the p90 over queries of each query's mean; throughput is queries per
    second of the whole measured window. Means rather than medians: the
    host's speed drifts by tens of percent within seconds, and a mean over
    the whole window follows that drift least."""
    per_query = {}
    for s in res["samples"]:
        if s["ok"]:
            per_query.setdefault(s["query"], []).append(s["end"] - s["start"])
    walls = [w for v in per_query.values() for w in v]
    window = sum(p["end"] - p["start"] for p in res["passes"])
    return {"latency_s": statistics.mean(walls) if walls else 0.0,
            "latency_tail_s": layers.quantile([statistics.mean(v) for v in per_query.values()], 0.9),
            "throughput_per_s": len(res["samples"]) / window if window else 0.0}, \
        "%d query runs in %d passes" % (len(walls), len(res["passes"]))


def batch_walls(res):
    """Each query's wall times in pass order, warm-up passes first, for the
    run's log."""
    per_query = {}
    for tag, runs in (("w", res["warmup"]), ("", res["samples"])):
        for s in runs:
            per_query.setdefault(s["query"], []).append("%s%.3f" % (tag, s["end"] - s["start"]))
    return "; ".join("%s %s" % (q, " ".join(v)) for q, v in sorted(per_query.items()))


# ------------------------------------------------------------------ running

def run_jvm(cp, spec, work, deadline):
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + JVM_HEAP, "-Xss8m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false"] + build.java_opens() + [
        "-cp", cp, "perfbench.Main", spec_path, out_path]
    log_path = os.path.join(work, "jvm.log")
    steal0 = _cpu_stat()
    launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit("interrupted by signal %d" % signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if code != 0 or not os.path.isfile(out_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("harness JVM failed (%s)" % code)
    steal1 = _cpu_stat()
    d = [b - a for a, b in zip(steal0, steal1)]
    print("machine steal share during the run %.4f" % (d[7] / max(1, sum(d))))
    with open(out_path) as f:
        return json.load(f), launch


def _cpu_stat():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build.classpath(".")
    kind = WORKLOADS[args.workload]["kind"]
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "run-%d" % os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if kind == "stream":
            spec, inputs = stream_spec(args.seed, args.seconds, work)
        else:
            spec, inputs = batch_spec(args.workload, args.seed, args.seconds, work)
        spec.update({"trace": bool(args.trace), "cores": cores(), "work_dir": work})
        out, launch = run_jvm(cp, spec, work, t_start + RUN_TIMEOUT_S)
        res = out["result"]
        if kind == "stream":
            attempted, failed, detail = check_stream(res, inputs)
            e2e, samples = stream_end_to_end(res, inputs)
            if res.get("query_error"):
                failed = max(failed, 1)
                detail["query_error"] = res["query_error"]
        else:
            attempted, failed, detail = oracle.check(res, spec)
            e2e, samples = batch_end_to_end(res)
            print("query walls (w: warm-up): " + batch_walls(res))
        e2e["setup_s"] = out["wall0_ms"] / 1e3 + out["ready"] - launch
        e2e["live_heap_peak_mb"] = out["live_heap_peak_bytes"] / 2**20
        print("workload %s seed %d: %s, attempted %d, failed %d %s"
              % (args.workload, args.seed, samples, attempted, failed, json.dumps(detail)))
        print("failed_ratio %.6f" % (failed / max(1, attempted)))
        print("setup: session %.3f s after JVM start, ready at %.3f s"
              % (out["session_ready"], out["ready"]))
        print("vm_hwm_mb %.3f" % (out["vm_hwm_kb"] / 1024.0))
        for k, unit in END_TO_END:
            print("%s %.6f %s" % (k, e2e[k], unit))
        if args.trace:
            metrics = layers.per_layer(kind, res, out, inputs, spec)
            layers.report_trace(args.workload, args.seed, kind, res, out, e2e, build.BUILD_DIR)
            result = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        else:
            layers.save_untraced(args.workload, e2e, build.BUILD_DIR)
            result = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": result}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
