#!/usr/bin/env python3
"""Compare two plan dumps (PLANS.md from `graft.PlanDump`, or saved
`explain` output) up to the ids Spark renumbers on every run.

Usage: python3 tools/plandiff.py A B

Before diffing, each line is normalised:
  - expression ids:   l_quantity#123, id#7L -> l_quantity#_, id#_L
  - plan ids:         [plan_id=45]        -> [plan_id=_]

Prints a unified diff of the normalised dumps and exits 1 when they
differ, 0 when they match, 2 on a usage error.
"""
import difflib
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
]


def normalised(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        for pattern, repl in NORMALISE:
            line = pattern.sub(repl, line)
        out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    diff = list(difflib.unified_diff(normalised(a), normalised(b), a, b, lineterm=""))
    if not diff:
        print(f"plans match: {a} == {b}")
        return 0
    print("\n".join(diff))
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
