#!/usr/bin/env python3
"""Compare the Spark job counts of two `graft.JobCount` runs entry by entry.

Usage: python3 tools/diff_jobcounts.py <log_a> <log_b>

Each log is the stdout of `sbt "runMain graft.JobCount <names>"`. Its
`[jobcount] <name>: jobs=N ...` lines give the counts; the `[job] ...`
lines printed before each of them give that entry's jobs, each ending in
the graft frame that launched it, and its `[runs] <name>: t1 t2 ... s,
jobs j1 j2 ...` line gives the job count of every run. Prints one line
per entry with both first-run counts and the delta (b - a), marked
`unstable a (min–max)` (or `b`) when the runs of one log disagree, so a
delta inside that range is not read as a code change; for an entry whose
count differs, also the number of jobs per launching frame in both logs,
so the moved frame shows. Then a summary. Exits 1 if any entry runs more jobs in <log_b>
than in <log_a>, or if an entry appears in only one of the logs; exits
0 otherwise.
"""
import collections
import re
import sys

LINE = re.compile(r"^\[jobcount\] (\S+): jobs=(\d+)")
JOB = re.compile(r"^\[job\] id=\s*\d+\s+[\d.]+ s\s*(.*)$")
RUNS = re.compile(r"^\[runs\] (\S+): .* jobs ((?:\d+\s*)+)$")


def parse(path):
    """{name: job count}, {name: Counter of launching frames},
    {name: job counts of all runs}."""
    counts, frames, runs = {}, {}, {}
    pending = collections.Counter()
    with open(path, errors="replace") as f:
        for line in f:
            line = line.strip()
            r = RUNS.match(line)
            if r:
                runs[r.group(1)] = [int(x) for x in r.group(2).split()]
                continue
            j = JOB.match(line)
            if j:
                pending[j.group(1) or "(no frame)"] += 1
                continue
            m = LINE.match(line)
            if m:
                counts[m.group(1)] = int(m.group(2))
                frames[m.group(1)] = pending
                pending = collections.Counter()
    return counts, frames, runs


def unstable(runs, side):
    """` unstable <side> (min–max)` if the runs disagree, else ''."""
    if not runs or min(runs) == max(runs):
        return ""
    return " unstable %s (%d\u2013%d)" % (side, min(runs), max(runs))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (a, fa, ra), (b, fb, rb) = parse(argv[1]), parse(argv[2])
    if not a or not b:
        print("no [jobcount] lines in %s" % (argv[1] if not a else argv[2]),
              file=sys.stderr)
        return 2
    names = list(a) + [n for n in b if n not in a]
    rose, missing = [], []
    for n in names:
        if n not in a or n not in b:
            missing.append(n)
            print("%-40s %6s %6s  only in %s" % (
                n, a.get(n, "-"), b.get(n, "-"), "a" if n in a else "b"))
            continue
        d = b[n] - a[n]
        if d > 0:
            rose.append(n)
        print("%-40s %6d %6d  %+d%s%s" % (n, a[n], b[n], d,
                                         unstable(ra.get(n), "a"),
                                         unstable(rb.get(n), "b")))
        if d != 0:
            ca, cb = fa[n], fb[n]
            for frame in sorted(set(ca) | set(cb),
                                key=lambda k: (cb[k] - ca[k], k)):
                mark = "" if ca[frame] == cb[frame] else "  *"
                print("    %4d %4d  %s%s" % (ca[frame], cb[frame], frame,
                                            mark))
    print("%d entries: %d fewer jobs, %d same, %d more, %d unmatched, "
          "%d unstable" % (
              len(names),
              sum(1 for n in names if n in a and n in b and b[n] < a[n]),
              sum(1 for n in names if n in a and n in b and b[n] == a[n]),
              len(rose), len(missing),
              sum(1 for n in names
                  if unstable(ra.get(n), "a") or unstable(rb.get(n), "b"))))
    return 1 if rose or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
