"""Seeded synthetic Nomad event stream, and an independent model of what the
notifier must deliver for it.

The generator emits NDJSON frames shaped like a real `/v1/event/stream`
capture: `{"Index":..,"Events":[..]}` envelopes of `AllocationUpdated`
events whose `TaskStates` carry each task's whole event history, so every
update re-sends the events already seen (the repeats the notifier's
high-watermark dedup exists to drop). Mixed in are `{}` heartbeats, a few
malformed lines, `connect-proxy` sidecar tasks, non-default namespaces,
non-Allocation topics, frames at or below the starting index, events older
than the starting watermark, late (out-of-order) events, re-sent frames and
equal-timestamp event pairs. Messages carry non-ASCII text and the byte
stream is cut into chunks at random points, some of them inside a UTF-8
character. Every task event carries a unique `[e<id>]` tag at the start of
its `DisplayMessage`, so a receiver can match each POST to its event.

The model is written from the reference daemon's semantics, not from the
program: per-task high-watermark dedup where every event of one frame is
compared against the watermark as of the frame's start (reference
app.rb:145-167, 270-273), then the deny/allow cascade, the `connect-proxy`
anti-filter and the payload formatting.
"""
import json
import random
import re

STARTING_INDEX = 1000
BASE_TIME_NS = 1_700_000_000_000_000_000
INITIAL_WATERMARK_NS = BASE_TIME_NS
DENYLIST = ["Received"]
ALLOWLIST = []
ANTI_PATTERN = "connect-proxy"
DEFAULT_NAMESPACE = "default"

MESSAGES = [
    "Task started by client",
    "Building Task Directory",
    "Tâche démarrée sur le nœud",
    "任务已启动",
    "Задача запущена",
    "naïve café restart ✓",
    "Ολοκληρώθηκε η εργασία",
    "deploy 🚀 finished",
    'Exit Message: "container exited"',
]
NODES = ["worker-1", "worker-2", "wörker-3", "edge-东京"]
LIFECYCLE = ["Received", "Task Setup", "Started", "Terminated", "Killing", "Killed"]
RESTART = ["Restart Signaled", "Restarting", "Started"]
TAG = re.compile(r"\[e(\d+)\]")


def _details(rng, typ):
    if typ == "Terminated":
        kind = rng.random()
        if kind < 0.5:
            return {"exit_code": "0", "oom_killed": "false", "signal": "0"}
        if kind < 0.8:
            return {"exit_code": "137", "oom_killed": "true",
                    "exit_message": 'OOM "killed" by kernel'}
        return {"exit_code": "1", "oom_killed": "false", "signal": "15"}
    if typ == "Restart Signaled":
        return {"restart_reason": rng.choice(["healthcheck: unhealthy", "template changed"])}
    if typ == "Killing":
        return {"kill_timeout": "5s"}
    if typ == "Task Setup":
        return {"message": "Building Task Directory"}
    return {}


class _Alloc:
    def __init__(self, rng, aid, job, ns, node, n_tasks, sidecar):
        self.id = aid
        self.job = job
        self.ns = ns
        self.node = node
        self.tasks = {}
        names = ["main", "web", "worker"][:n_tasks]
        if sidecar:
            names.append("connect-proxy-" + job)
        for name in names:
            plan = list(LIFECYCLE)
            if rng.random() < 0.3:
                plan[3:3] = RESTART
            self.tasks[name] = {"plan": plan, "events": []}

    def done(self):
        return all(len(t["events"]) >= len(t["plan"]) for t in self.tasks.values())


class Generator:
    """Stateful frame source; one instance per connection."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.index = STARTING_INDEX + 1
        self.clock = BASE_TIME_NS + 1_000_000_000
        self.next_id = 1
        self.next_alloc = 1
        self.jobs = ["svc-%02d" % i for i in range(40)]
        self.active = []
        self.last_frame = {}

    def _new_alloc(self):
        rng = self.rng
        busy = {a.job for a in self.active}
        free = [j for j in self.jobs if j not in busy] or self.jobs
        job = rng.choice(free)
        ns = "batch-jobs" if rng.random() < 0.15 else DEFAULT_NAMESPACE
        alloc = _Alloc(rng, "alloc-%05d" % self.next_alloc, job, ns, rng.choice(NODES),
                       rng.choice([1, 1, 2, 3]), rng.random() < 0.2)
        self.next_alloc += 1
        self.active.append(alloc)
        return alloc

    def _event(self, typ, time_ns):
        eid = self.next_id
        self.next_id += 1
        return {"Type": typ, "Time": time_ns,
                "Message": "", "DisplayMessage": "[e%d] %s" % (eid, self.rng.choice(MESSAGES)),
                "Details": _details(self.rng, typ), "FailsTask": False, "ExitCode": 0}

    def _tick(self):
        self.clock += self.rng.randint(1_000_000, 50_000_000)
        return self.clock

    def _advance(self, alloc):
        """Append the next lifecycle event to one or two of the alloc's tasks."""
        rng = self.rng
        open_tasks = [t for t in alloc.tasks.values() if len(t["events"]) < len(t["plan"])]
        for task in rng.sample(open_tasks, min(len(open_tasks), rng.choice([1, 2]))):
            typ = task["plan"][len(task["events"])]
            t = self._tick()
            task["events"].append(self._event(typ, t))
            if rng.random() < 0.05 and len(task["events"]) < len(task["plan"]):
                # equal-timestamp pair: both pass the frame snapshot
                task["events"].append(self._event(task["plan"][len(task["events"])], t))
            if rng.random() < 0.04 and len(task["events"]) > 1:
                # late event: older than what the key already saw
                task["events"].append(self._event("Driver", task["events"][0]["Time"] - 1))

    def _alloc_event(self, alloc, index):
        states = {}
        for name, task in alloc.tasks.items():
            states[name] = {"State": "running", "Failed": False, "Restarts": 0,
                            "Events": list(task["events"])}
        return {"Topic": "Allocation", "Type": "AllocationUpdated", "Key": alloc.id,
                "Namespace": alloc.ns, "Index": index,
                "Payload": {"Allocation": {
                    "ID": alloc.id, "Namespace": alloc.ns, "NodeName": alloc.node,
                    "JobID": alloc.job, "TaskGroup": "group", "ClientStatus": "running",
                    "TaskStates": states}}}

    def frame_lines(self):
        """Lines for the next generated frame (usually one)."""
        rng = self.rng
        r = rng.random()
        if r < 0.08:
            return ["{}"]
        if r < 0.10:
            body = self._frame_text()
            return [body[: rng.randint(5, max(6, len(body) - 2))]]  # malformed
        if r < 0.12 and self.last_frame:
            # re-sent frame under a new index: all of its events are repeats
            frame = dict(self.last_frame)
            frame["Index"] = self.index
            self.index += 1
            return [json.dumps(frame, ensure_ascii=False, separators=(",", ":"))]
        return [self._frame_text()]

    def _frame_text(self):
        rng = self.rng
        index = self.index
        self.index += 1
        events = []
        if rng.random() < 0.06:
            events.append({"Topic": rng.choice(["Job", "Node", "Deployment"]),
                           "Type": "Updated", "Key": "k", "Namespace": DEFAULT_NAMESPACE,
                           "Index": index, "Payload": {"Job": {"ID": rng.choice(self.jobs)}}})
        used = set()
        for _ in range(rng.choice([1, 2, 2, 3])):
            idle = [a for a in self.active if a.id not in used]
            if len(self.active) < 6 or rng.random() < 0.1 or not idle:
                alloc = self._new_alloc()
            else:
                alloc = rng.choice(idle)
            used.add(alloc.id)
            self._advance(alloc)
            events.append(self._alloc_event(alloc, index))
            if alloc.done():
                self.active.remove(alloc)
        frame = {"Index": index, "Events": events}
        self.last_frame = frame
        return json.dumps(frame, ensure_ascii=False, separators=(",", ":"))

    def preamble_lines(self):
        """What a fresh connection sees first: frames at or below the
        starting index and events older than the starting watermark."""
        old = _Alloc(self.rng, "alloc-old", "svc-old", DEFAULT_NAMESPACE, "worker-1", 1, False)
        old.tasks["main"]["events"].append(self._event("Started", INITIAL_WATERMARK_NS - 5))
        stale = {"Index": STARTING_INDEX - 3, "Events": [self._alloc_event(old, STARTING_INDEX - 3)]}
        before = {"Index": self.index, "Events": [self._alloc_event(old, self.index)]}
        self.index += 1
        return ["{}", json.dumps(stale, ensure_ascii=False, separators=(",", ":")),
                json.dumps(before, ensure_ascii=False, separators=(",", ":"))]


_CONTINUATION = re.compile(rb"[\x80-\xbf]")


def _cut_points(rng, data, n_cuts):
    """Random cut offsets inside `data`; when the line has a multi-byte
    character, one cut may land inside it."""
    cuts = set(rng.randrange(1, len(data)) for _ in range(n_cuts) if len(data) > 1)
    if rng.random() < 0.5:
        inner = _CONTINUATION.search(data, rng.randrange(1, len(data))) or _CONTINUATION.search(data, 1)
        if inner:
            cuts.add(inner.start())
    return sorted(cuts)


def build_stream(seed, phases):
    """Generate one connection's byte stream.

    `phases` is a list of (n_frames, frames_per_s); frames_per_s None writes
    the whole phase at once.

    Returns a dict with `data` (bytes), `writes` [(phase, due_ms, nbytes,
    valid_lines)] in byte order, and `lines` [(phase, due_ms, text)] in
    stream order. A write's `valid_lines` counts the valid JSON lines it
    completes.
    """
    gen = Generator(seed)
    rng = random.Random(seed * 7919 + 1)
    data = bytearray()
    writes = []
    lines = []
    for p, (n_frames, rate) in enumerate(phases):
        frame_lines = gen.preamble_lines() if p == 0 else []
        while len(frame_lines) < n_frames:
            frame_lines.extend(gen.frame_lines())
        prev_due = 0.0
        for i, text in enumerate(frame_lines):
            due_ms = 0.0 if rate is None else 1000.0 * i / rate
            lines.append((p, due_ms, text))
            raw = (text + "\n").encode("utf-8")
            cuts = [0] + _cut_points(rng, raw, rng.choice([0, 1, 2])) + [len(raw)]
            pieces = [raw[a:b] for a, b in zip(cuts, cuts[1:])]
            for k, piece in enumerate(pieces):
                due = due_ms
                if k == 0 and len(pieces) > 1 and rng.random() < 0.3:
                    # the head of this line goes out with the previous frame,
                    # so the reader holds a partial line (maybe mid-character)
                    due = prev_due
                last = k == len(pieces) - 1
                data.extend(piece)
                writes.append((p, due, len(piece), 1 if last and _is_valid(text) else 0))
            prev_due = due_ms
    return {"data": bytes(data), "writes": writes, "lines": lines}


def _is_valid(text):
    try:
        json.loads(text)
        return bool(text.strip())
    except ValueError:
        return False


# ----------------------------------------------------------------- the model

def _task_identifier(ns, job, task):
    prefix = ns + "/" if ns is not None and ns != DEFAULT_NAMESPACE else ""
    return "%s%s.%s" % (prefix, job, task)


def _state(typ, details):
    if typ == "Restart Signaled":
        return "failure" if "unhealthy" in details.get("restart_reason", "") else "success"
    if typ == "Terminated":
        if details.get("oom_killed") == "true":
            return "failure"
        return "success" if details.get("exit_code") == "0" else "failure"
    return None


def _payloads(key, te, node):
    typ = te["Type"]
    details = {k: v.replace('"', "'") for k, v in (te.get("Details") or {}).items()}
    description = te.get("DisplayMessage") or ""
    if details:
        description += "\n```" + json.dumps(dict(sorted(details.items())), ensure_ascii=False,
                                            separators=(",", ":")) + "```"
    subject = "**%s** task is **%s** on **%s** node" % (key, typ, node)
    state = _state(typ, te.get("Details") or {})
    embed = {"description": description}
    attachment = {"mrkdwn_in": ["text"], "text": description,
                  "pretext": subject.replace("**", "*")}
    if state is not None:
        embed["color"] = 15158332 if state == "failure" else 3066993
        attachment["color"] = "#e74c3c" if state == "failure" else "#2ecc71"
    return {"discord": {"content": subject, "embeds": [embed]},
            "slack": {"attachments": [attachment]}}


def expected(lines, starting_index=STARTING_INDEX, initial_wm=INITIAL_WATERMARK_NS,
             deny=DENYLIST, allow=ALLOWLIST):
    """Notifications the reference semantics deliver for `lines`, in order.

    `lines` is [(phase, due_ms, text)]. Returns (notifications, counters per
    phase); each notification is {id, phase, due_ms, discord, slack}.
    """
    watermark = {}
    out = []
    per_phase = {}
    for phase, due_ms, text in lines:
        counters = per_phase.setdefault(phase, dict.fromkeys(
            ("lines", "valid", "heartbeats", "reaching_dedup", "dedup_pass"), 0))
        counters["lines"] += 1
        if not _is_valid(text):
            continue
        counters["valid"] += 1
        frame = json.loads(text)
        index = frame.get("Index")
        if index is None:
            counters["heartbeats"] += 1
            continue
        if index <= starting_index:
            continue
        units = {}
        for ev in frame.get("Events") or []:
            if ev.get("Topic") != "Allocation":
                continue
            alloc = (ev.get("Payload") or {}).get("Allocation") or {}
            states = alloc.get("TaskStates")
            if states is None:
                continue
            for task_id, state in states.items():
                if re.search(ANTI_PATTERN, task_id):
                    continue
                key = _task_identifier(alloc.get("Namespace"), alloc.get("JobID"), task_id)
                for te in state.get("Events") or []:
                    units.setdefault(key, []).append((te, alloc.get("NodeName")))
        for key, evs in units.items():
            wm = watermark.get(key, initial_wm)
            counters["reaching_dedup"] += len(evs)
            for te, node in evs:
                if te.get("Time") is None or te["Time"] <= wm:
                    continue
                counters["dedup_pass"] += 1
                typ = te.get("Type")
                if typ in deny or (allow and typ not in allow):
                    continue
                tag = TAG.search(te.get("DisplayMessage") or "")
                eid = int(tag.group(1)) if tag else None
                note = {"id": eid, "phase": phase, "due_ms": due_ms}
                note.update(_payloads(key, te, node))
                out.append(note)
            times = [te["Time"] for te, _ in evs if te.get("Time") is not None]
            watermark[key] = max([wm] + times)
    return out, per_phase
