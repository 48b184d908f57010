"""Tests of the benchmark's own parts: the stream generator, the expected-
output model and the delivery check.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import nomadgen  # noqa: E402
import run  # noqa: E402


def alloc_frame(index, job, *events):
    """The frame shape of the pipeline's hand-worked end-to-end specs."""
    evs = [{"Type": typ, "Time": t, "DisplayMessage": typ + " done", "Details": details}
           for typ, t, details in events]
    return json.dumps({"Index": index, "Events": [{
        "Topic": "Allocation", "Type": "AllocationUpdated", "Key": "k", "Namespace": "default",
        "Index": index, "Payload": {"Allocation": {
            "ID": "a1", "Namespace": "default", "NodeName": "worker-1", "JobID": job,
            "TaskStates": {"main": {"State": "dead", "Events": evs}}}}}]})


def model(texts):
    lines = [(0, 0.0, t) for t in texts]
    notes, _ = nomadgen.expected(lines, starting_index=100, initial_wm=1000, deny=[], allow=[])
    return notes


class ModelMatchesHandWorkedCases(unittest.TestCase):

    def test_end_to_end_case(self):
        # heartbeat, oom Terminated@2000, the same event re-sent, exit-zero@3000
        notes = model([
            "{}",
            alloc_frame(200, "oom-killed", ("Terminated", 2000, {"oom_killed": "true", "exit_code": "137"})),
            alloc_frame(201, "oom-killed", ("Terminated", 2000, {"oom_killed": "true", "exit_code": "137"})),
            alloc_frame(202, "exit-zero", ("Terminated", 3000, {"exit_code": "0", "oom_killed": "false"})),
        ])
        self.assertEqual(len(notes), 2)  # so each destination gets 2 deliveries
        oom, ok = notes
        self.assertEqual(oom["discord"]["content"],
                         "**oom-killed.main** task is **Terminated** on **worker-1** node")
        self.assertEqual(oom["discord"]["embeds"][0]["color"], 15158332)
        self.assertEqual(ok["discord"]["embeds"][0]["color"], 3066993)
        text = oom["slack"]["attachments"][0]["text"]
        self.assertIn("\n```{", text)
        self.assertEqual(oom["slack"]["attachments"][0]["mrkdwn_in"], ["text"])

    def test_chaos_case(self):
        # duplicate@2000 and stale@1500 for job-a must drop
        notes = model([
            "{}",
            alloc_frame(200, "job-a", ("Terminated", 2000, {"exit_code": "0"})),
            alloc_frame(201, "job-a", ("Terminated", 2000, {"exit_code": "0"})),
            alloc_frame(202, "job-b", ("Terminated", 3000, {"oom_killed": "true", "exit_code": "137"})),
            alloc_frame(203, "job-a", ("Restart Signaled", 1500, {"restart_reason": "flaky"})),
            alloc_frame(204, "job-c", ("Started", 4000, {})),
        ])
        got = [(n["discord"]["content"].split("**")[1], n["discord"]["content"].split("**")[3])
               for n in notes]
        self.assertEqual(got, [("job-a.main", "Terminated"), ("job-b.main", "Terminated"),
                               ("job-c.main", "Started")])

    def test_equal_timestamps_in_one_frame_both_pass(self):
        notes = model([alloc_frame(200, "j", ("Killing", 2000, {}), ("Killed", 2000, {}))])
        self.assertEqual(len(notes), 2)

    def test_stale_index_and_proxy_and_namespace(self):
        proxy = json.loads(alloc_frame(201, "web", ("Started", 2000, {})))
        states = proxy["Events"][0]["Payload"]["Allocation"]["TaskStates"]
        states["connect-proxy-web"] = states.pop("main")
        ns = json.loads(alloc_frame(202, "web", ("Started", 2000, {})))
        ns["Events"][0]["Payload"]["Allocation"]["Namespace"] = "batch-jobs"
        notes = model([alloc_frame(100, "old", ("Started", 2000, {})), json.dumps(proxy),
                       json.dumps(ns), '{"Index":203,"Eve'])
        self.assertEqual([n["discord"]["content"].split("**")[1] for n in notes],
                         ["batch-jobs/web.main"])


class Generator(unittest.TestCase):
    PHASES = [(12, None), (300, 50.0)]

    def test_byte_identical_for_a_seed(self):
        a = nomadgen.build_stream(7, self.PHASES)
        b = nomadgen.build_stream(7, self.PHASES)
        self.assertEqual(a["data"], b["data"])
        self.assertEqual(a["writes"], b["writes"])
        self.assertNotEqual(a["data"], nomadgen.build_stream(8, self.PHASES)["data"])

    def test_a_chunk_boundary_splits_a_utf8_character(self):
        s = nomadgen.build_stream(7, self.PHASES)
        offset, splits = 0, 0
        for _, _, n, _ in s["writes"]:
            offset += n
            if offset < len(s["data"]) and 0x80 <= s["data"][offset] < 0xC0:
                splits += 1
        self.assertEqual(offset, len(s["data"]))
        self.assertGreater(splits, 0)

    def test_stream_has_every_special_case(self):
        s = nomadgen.build_stream(7, self.PHASES)
        texts = [t for _, _, t in s["lines"]]
        self.assertIn("{}", texts)
        self.assertTrue(any(not nomadgen._is_valid(t) for t in texts))
        self.assertTrue(any("connect-proxy" in t for t in texts))
        self.assertTrue(any('"Namespace":"batch-jobs"' in t for t in texts))
        self.assertTrue(any('"Topic":"Job"' in t or '"Topic":"Node"' in t
                            or '"Topic":"Deployment"' in t for t in texts))
        self.assertTrue(any(not c.isascii() for t in texts for c in t))
        frames = [json.loads(t) for t in texts if nomadgen._is_valid(t)]
        self.assertTrue(any((f.get("Index") or 10**9) <= nomadgen.STARTING_INDEX for f in frames))

    def test_model_drops_repeats_and_ids_are_unique(self):
        s = nomadgen.build_stream(7, self.PHASES)
        notes, per_phase = nomadgen.expected(s["lines"])
        ids = [n["id"] for n in notes]
        self.assertEqual(len(ids), len(set(ids)))
        c = per_phase[1]
        self.assertLess(c["dedup_pass"], c["reaching_dedup"])
        self.assertGreater(len(notes), 100)


class DeliveryCheck(unittest.TestCase):

    def test_missing_duplicated_unexpected_and_wrong_all_count(self):
        notes = model([
            alloc_frame(200, "a", ("Started", 2000, {})),
            alloc_frame(201, "b", ("Started", 2001, {})),
        ])
        for i, n in enumerate(notes):
            n["id"] = i + 1
        inputs = {"notes": notes}

        def post(dest, eid, body):
            return {"dest": dest, "id": eid, "t": 1.0, "port": 1, "body": json.dumps(body)}

        exact = [post(d, n["id"], n[d]) for n in notes for d in ("discord", "slack")]
        self.assertEqual(run.check_stream({"phases_run": 1, "posts": exact}, inputs)[:2], (4, 0))
        n1, n2 = notes
        bad = [post("discord", 1, n1["discord"]), post("slack", 1, n1["slack"]),
               post("slack", 1, n1["slack"]),               # duplicated
               post("discord", 2, {"content": "x"}),        # wrong payload
               post("slack", 99, {})]                       # unexpected; slack 2 missing
        _, failed, detail = run.check_stream({"phases_run": 1, "posts": bad}, inputs)
        self.assertEqual(detail, {"missing": 1, "duplicated": 1, "unexpected": 1, "wrong_payload": 1})
        self.assertEqual(failed, 4)


if __name__ == "__main__":
    unittest.main()
