#!/usr/bin/env python3
"""Unit tests of tools/plandiff.py on synthetic DumpPlans files.

    python3 -m unittest tools/test_plandiff.py
"""
import io
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plandiff  # noqa: E402

PLAN = """== noop ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (8)
   +- * HashAggregate (7)
      +- ShuffleQueryStage (6), Statistics(sizeInBytes=64.0 B, rowCount=4)

(1) Scan ExistingRDD [codegen id : {cg}]
Output [2]: [id#{a}L, v#{b}]
Arguments: [id#{a}L, v#{b}], MapPartitionsRDD[{rdd}] at localCheckpoint at GraftSession.scala:{line}

(4) Generate
Arguments: explode(transform(ids#{b}, lambdafunction((lambda x_{lv}#{a}L + 1), lambda x_{lv}#{a}L, false)))

(5) MapPartitions
Arguments: graft.operators.MultimodalOps$$$Lambda{lam}/0x00007f65b956c2a8@32daea66, obj#{a}: scala.Tuple2

(6) ShuffleQueryStage
Output [1]: [id#{a}L]
Arguments: {stage}

(7) HashAggregate [codegen id : {cg}]
Functions [1]: [agg(v#{b}, graft.functions.TopKAggregator@{obj})]
Arguments: hashpartitioning(id#{a}L, 4), ENSURE_REQUIREMENTS, [plan_id={pid}]
"""


def plan(**ids):
    base = dict(cg=1, a=10, b=11, rdd=300, line=81, lam=5390, stage=0, obj="7b416f5f",
                pid=41044, lv=2)
    base.update(ids)
    return PLAN.format(**base)


class PlanDiffTest(unittest.TestCase):
    def run_dirs(self, parents, change):
        """Exit status and stdout of plandiff over one file per directory."""
        out = io.StringIO()
        with tempfile.TemporaryDirectory() as root:
            dirs = []
            for i, text in enumerate(parents + [change]):
                d = os.path.join(root, f"run{i}")
                os.mkdir(d)
                with open(os.path.join(d, f"q_demo_r{i}.txt"), "w", encoding="utf-8") as f:
                    f.write(text)
                dirs.append(d)
            with redirect_stdout(out):
                status = plandiff.main(["plandiff.py"] + dirs)
        return status, out.getvalue()

    def test_run_dependent_ids_are_normalized(self):
        status, out = self.run_dirs(
            [plan()],
            plan(cg=3, a=97, b=98, rdd=912, line=90, lam=5407, stage=6, obj="665600ef",
                 pid=7, lv=63))
        self.assertEqual(status, 0, out)
        self.assertIn("1/1 queries match a parent run", out)

    def test_a_plan_change_prints_its_lines_and_fails(self):
        changed = plan().replace("hashpartitioning(id#10L, 4)", "hashpartitioning(id#10L, 8)")
        status, out = self.run_dirs([plan(), plan(a=20, b=21)], changed)
        self.assertEqual(status, 1)
        self.assertIn("== q_demo", out)
        self.assertIn("-Arguments: hashpartitioning(id#NL, 4)", out)
        self.assertIn("+Arguments: hashpartitioning(id#NL, 8)", out)
        self.assertIn("0/1 queries match a parent run", out)

    def test_matching_any_parent_run_passes(self):
        other = plan().replace("ShuffleQueryStage (6)", "BroadcastQueryStage (6)")
        status, out = self.run_dirs([plan(), other], other)
        self.assertEqual(status, 0, out)

    def test_stage_ids_only_under_query_stages(self):
        lines = plandiff.normalize("(3) Project\nArguments: 4\n\n(4) ShuffleQueryStage\n"
                                   "Arguments: 4\n")
        self.assertEqual(lines, ["(3) Project", "Arguments: 4", "",
                                 "(4) ShuffleQueryStage", "Arguments: N"])


if __name__ == "__main__":
    unittest.main()
