#!/usr/bin/env python3
"""Compare two graft.Explain dumps entry by entry.

Usage: diff_plans.py <explain_a> <explain_b> [name,...]

Each dump is the captured stdout of `runMain graft.Explain ...`: one
"========== <name> ==========" header per catalog entry, followed by its
formatted physical plan. Log lines around the plans are dropped. Before
comparing, every plan is normalised: expression ids (`#123`) become
`#N`, `plan_id=123` becomes `plan_id=N`, JVM identity hashes of
literal arrays (`[[D@5330160`) become `@H`, source lines of call sites
(`Dedup.scala:675`) become `Dedup.scala:L` and absolute paths become
`<path>`: ids and hashes differ between two runs of the same code, and
lines and paths move when code moves without changing the plan. With a
comma-separated name list only those entries are compared. An entry in
one dump only counts as a difference. Prints a unified diff for each
differing entry, then a summary line, and exits 1 when any entry
differs, 0 when all are identical.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
# sbt, Spark log4j and scratch-cleanup lines that interleave with plans
NOISE = re.compile(r"^(\[(info|warn|error|success)\]|\d\d/\d\d/\d\d \d\d:"
                   r"\d\d:\d\d |\[graft-scratch\])")
SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # default toString of a JVM array or object literal: [[D@5330160
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    # call-site source line of a checkpointed RDD: Dedup.scala:675
    (re.compile(r"(\w+\.scala):\d+"), r"\1:L"),
    (re.compile(r"(?:file:)?(?:/[\w.\-=+]+){2,}/?"), "<path>"),
]


def normalise(line: str) -> str:
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(path: str) -> dict:
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not NOISE.match(line):
                out[name].append(normalise(line))
    # trailing blank lines are layout, not plan
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(path_a: str, path_b: str, names: list) -> int:
    a, b = plans(path_a), plans(path_b)
    wanted = sorted(set(names) if names else set(a) | set(b))
    n_same = n_diff = 0
    for name in wanted:
        if name not in a or name not in b:
            where = path_a if name in a else path_b if name in b else "neither"
            print(f"DIFF {name}: only in {where}")
            n_diff += 1
            continue
        if a[name] == b[name]:
            n_same += 1
            continue
        n_diff += 1
        print(f"DIFF {name}:")
        for d in difflib.unified_diff(a[name], b[name], path_a, path_b,
                                      n=1, lineterm=""):
            print("  " + d)
    print(f"{n_same} identical / {n_diff} different")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2])
    sel = [n for n in sys.argv[3].split(",") if n] if len(sys.argv) == 4 else []
    sys.exit(main(sys.argv[1], sys.argv[2], sel))
