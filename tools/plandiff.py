#!/usr/bin/env python3
"""Compare tools.DumpPlans output of a change against runs of its parent.

    python3 tools/plandiff.py PARENT_DIR [PARENT_DIR ...] CHANGE_DIR

Each directory holds one `<query>_<suffix>.txt` per query, as written by
`runMain graft.tools.DumpPlans <dir> <suffix>` (the suffix must contain no
underscore). DumpPlans output is not reproducible run to run, so every file
is first normalized: expression ids (`name#123`), `plan_id=`, codegen stage
ids, AQE query-stage ids (`Arguments: 3` under a *QueryStage node), RDD ids,
`$$Lambda` class hashes, object identity hashes (`Aggregator@1f2e`),
higher-order function variable numbers (`lambda x_63`) and source line
numbers of RDD call sites become fixed tokens. A query passes when its
normalized change file equals the normalized file of at least one parent
run; pass two or more parent runs so that a plan which varies between runs
(which side AQE broadcasts, say) is matched by one of them. For every other
query the differing lines against the closest parent run are printed, and
the exit status is 1.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$\$Lambda[^\s,)\]]*"), "$$Lambda"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(\w)@[0-9a-f]+\b"), r"\1@H"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
]
STAGE = re.compile(r"^\(\d+\) \w*QueryStage\b")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def normalize(text):
    """The plan text with run-dependent ids replaced, as a list of lines."""
    out = []
    in_stage = False
    for line in text.splitlines():
        for pattern, repl in RULES:
            line = pattern.sub(repl, line)
        if in_stage and STAGE_ID.match(line):
            line = "Arguments: N"
        if STAGE.match(line):
            in_stage = True
        elif not line.strip():
            in_stage = False
        out.append(line)
    return out


def load(directory):
    """query -> normalized lines, for every `<query>_<suffix>.txt`."""
    plans = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt") and "_" in name:
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                plans[name[:-len(".txt")].rsplit("_", 1)[0]] = normalize(f.read())
    return plans


def compare(parents, change):
    """(passed queries, {query: diff lines}) of a change against parent runs."""
    passed, failed = [], {}
    for query in sorted(set(change).union(*parents)):
        mine = change.get(query)
        theirs = [p[query] for p in parents if query in p]
        if mine is not None and mine in theirs:
            passed.append(query)
            continue
        if mine is None or not theirs:
            where = "the change" if mine is None else "every parent run"
            failed[query] = [f"missing from {where}"]
            continue
        diffs = [[d for d in difflib.unified_diff(t, mine, "parent", "change", n=0, lineterm="")
                  if not d.startswith("@@")] for t in theirs]
        failed[query] = min(diffs, key=len)
    return passed, failed


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    parents = [load(d) for d in argv[1:-1]]
    passed, failed = compare(parents, load(argv[-1]))
    for query, lines in failed.items():
        print(f"== {query}")
        for line in lines:
            print(line)
    print(f"{len(passed)}/{len(passed) + len(failed)} queries match a parent run")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
