#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

Usage:
    python3 tools/process_spawns.py RECORDING.jfr

Runs `$JAVA_HOME/bin/jfr print --json --events jdk.ProcessStart` over the
recording, with stacks 64 frames deep (the recorder's default depth;
`jfr print` keeps 5 unless told), and prints the total, then the counts
by command word (the program name, e.g. `readlink` or `chmod`) and by the
first `org.apache.spark` frame of each event's stack (`Class.method`),
largest first. An event recorded without a stack counts as `(no stack)`,
one with no Spark frame as `(no spark frame)`.

Make a recording of a whole run by starting its JVM with, for example,

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/jfr,settings=default"

where /tmp/jfr is an existing directory: each JVM the variable reaches
writes its own hotspot-pid-<pid>-<time>.jfr there. jdk.ProcessStart is on,
with stacks, in the `default` settings.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

SPARK_PREFIX = "org.apache.spark."


def events(recording):
    java_home = os.environ.get("JAVA_HOME")
    jfr = os.path.join(java_home, "bin", "jfr") if java_home else "jfr"
    out = subprocess.run(
        [jfr, "print", "--json", "--events", "jdk.ProcessStart",
         "--stack-depth", "64", recording],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def spark_frame(stack):
    if not stack:
        return "(no stack)"
    for frame in stack["frames"]:
        method = frame["method"]
        cls = method["type"]["name"].replace("/", ".")
        if cls.startswith(SPARK_PREFIX):
            return f"{cls}.{method['name']}"
    return "(no spark frame)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    args = ap.parse_args()

    by_word = collections.Counter()
    by_frame = collections.Counter()
    evs = events(args.recording)
    for ev in evs:
        values = ev["values"]
        by_word[os.path.basename((values["command"].split() or [""])[0])] += 1
        by_frame[spark_frame(values.get("stackTrace"))] += 1

    print(f"{len(evs)} processes started")
    for title, counts in (("by command", by_word),
                          ("by first org.apache.spark frame", by_frame)):
        print(f"\n{title}:")
        for key, n in counts.most_common():
            print(f"{n:>8}  {key}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
