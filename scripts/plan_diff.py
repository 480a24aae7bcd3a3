#!/usr/bin/env python3
"""Diff two `graft.Diag run <names> <sfDir> explain` plan dumps.

    python3 scripts/plan_diff.py before.log after.log   # diff, exit 1 on change
    python3 scripts/plan_diff.py dump.log               # print the masked dump

Both dumps may carry sbt and Spark log noise; only the plan text from the
first `== <name> ==` header on is compared. Everything that changes from
one run to the next without the plan changing is masked first:

  - expression ids            `vec_id#1234L`              -> `vec_id#_L`
  - exchange plan ids         `[plan_id=57]`              -> `[plan_id=_]`
  - RDD ids                   `MapPartitionsRDD[638]`     -> `MapPartitionsRDD[_]`
  - call-site line numbers    `at Similarity.scala:209`   -> `at Similarity.scala:_`
  - scratch-dir pids          `graft_sq8serve_<md5>_1571` -> `graft_sq8serve_<md5>_PID`
  - lambda addresses          `$Lambda$5629/0x00..@40426682` -> `$Lambda`
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:_"),
    (re.compile(r"(graft_\w+?_[0-9a-f]{32})_\d+"), r"\1_PID"),
    (re.compile(r"\$Lambda[$\w]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
]
HEADER = re.compile(r"^== \S+ ==$")
NOISE = re.compile(r"^(\[(info|warn|error|success)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d )")


def masked(path):
    """The dump's plan lines, from the first query header on, masked."""
    out, started = [], False
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            started = started or bool(HEADER.match(line)) and line != "== Physical Plan =="
            if not started or NOISE.match(line):
                continue
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out.append(line)
    return out


def main(argv):
    if len(argv) == 2:
        print("\n".join(masked(argv[1])))
        return 0
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = masked(argv[1]), masked(argv[2])
    names = lambda ls: [l for l in ls if HEADER.match(l) and l != "== Physical Plan =="]
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm=""))
    if diff:
        print("\n".join(diff))
        print(f"plans differ ({len(names(a))} vs {len(names(b))} plans)", file=sys.stderr)
        return 1
    print(f"plans identical after masking: {len(names(a))} plans")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
