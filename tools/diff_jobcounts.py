#!/usr/bin/env python3
"""Compare the Spark job counts of two `graft.JobCount` runs entry by entry.

Usage: python3 tools/diff_jobcounts.py <log_a> <log_b>

Each log is the stdout of `sbt "runMain graft.JobCount <names>"`. Its
`[jobcount] <name>: jobs=N ...` lines give the counts; the `[job] ...`
lines printed before each of them give that entry's jobs, each ending in
the graft frame that launched it, and its `[runs] <name>: t1 t2 ... s,
jobs j1 j2 ...` line gives the job count of every run (the `[job]` lines
of a later run, printed after its `[rerun]` line, are not counted). Its
`[compiles] <name>: c1 c2 ...` line, where present, gives the classes
Janino compiled in every run. Prints one line per entry with both
first-run counts and the delta (b - a), marked `unstable a (min–max)`
(or `b`) when the runs of one log disagree, so a delta inside that range
is not read as a code change; for an entry whose count differs, also the
number of jobs per launching frame in both logs, so the moved frame
shows; and a note for each log whose warm runs (all but the first)
compile classes: the JVM's working set has outgrown Spark's codegen class
cache, the entry generates code that differs from run to run, or it runs on
a session clone with its own class loader (the cache is keyed by loader).
Then a summary. Exits 1 if any entry runs more jobs
in <log_b> than in <log_a>, or if an entry appears in only one of the
logs; exits 0 otherwise. Warm compiles do not change the exit status.
"""
import collections
import re
import sys

LINE = re.compile(r"^\[jobcount\] (\S+): jobs=(\d+)")
JOB = re.compile(r"^\[job\] id=\s*\d+\s+[\d.]+ s\s*(.*)$")
RUNS = re.compile(r"^\[runs\] (\S+): .* jobs ((?:\d+\s*)+)$")
COMPILES = re.compile(r"^\[compiles\] (\S+): ((?:\d+\s*)+)$")


def parse(path):
    """{name: job count}, {name: Counter of launching frames},
    {name: job counts of all runs}, {name: classes compiled per run}."""
    counts, frames, runs, compiles = {}, {}, {}, {}
    pending = collections.Counter()
    with open(path, errors="replace") as f:
        for line in f:
            line = line.strip()
            r = RUNS.match(line)
            if r:
                runs[r.group(1)] = [int(x) for x in r.group(2).split()]
                # the [job] lines since [jobcount] were later runs'
                pending = collections.Counter()
                continue
            c = COMPILES.match(line)
            if c:
                compiles[c.group(1)] = [int(x) for x in c.group(2).split()]
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
    return counts, frames, runs, compiles


def unstable(runs, side):
    """` unstable <side> (min–max)` if the runs disagree, else ''."""
    if not runs or min(runs) == max(runs):
        return ""
    return " unstable %s (%d\u2013%d)" % (side, min(runs), max(runs))


def warm_compiles(compiles, side):
    """A note line if the warm runs of one log compiled classes, else ''."""
    warm = (compiles or [])[1:]
    if not any(warm):
        return ""
    return ("    note: warm runs of %s compile %s classes (codegen cache "
            "outgrown, code that differs per run, or a session clone "
            "with its own class loader)"
            % (side, " ".join(map(str, warm))))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    (a, fa, ra, ca), (b, fb, rb, cb) = parse(argv[1]), parse(argv[2])
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
        for note in (warm_compiles(ca.get(n), "a"),
                     warm_compiles(cb.get(n), "b")):
            if note:
                print(note)
        if d != 0:
            ja, jb = fa[n], fb[n]
            for frame in sorted(set(ja) | set(jb),
                                key=lambda k: (jb[k] - ja[k], k)):
                mark = "" if ja[frame] == jb[frame] else "  *"
                print("    %4d %4d  %s%s" % (ja[frame], jb[frame], frame,
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
