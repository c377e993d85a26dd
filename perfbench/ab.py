#!/usr/bin/env python3
"""Interleaved A/B runs of one workload, for compare.py.

Usage:
    python3 perfbench/ab.py BASE_CHECKOUT NEW_CHECKOUT OUT_DIR WORKLOAD SEED...

For each seed it runs the workload once in each checkout, base first for
the first seed, new first for the second, and so on, so that a drift in
the host's speed falls on both sides alike. Both sides run a seed with the
same inputs. The result files go to OUT_DIR/base and OUT_DIR/new; then

    python3 perfbench/compare.py OUT_DIR/base OUT_DIR/new

pairs the runs in the order they started. Each run's last line is echoed
with its side.
"""
import json
import os
import subprocess
import sys


def main(base, new, out, workload, seeds):
    base, new, out = (os.path.abspath(p) for p in (base, new, out))
    with open(os.path.join(base, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    for i, seed in enumerate(seeds):
        sides = [("base", base), ("new", new)]
        for side, root in sides if i % 2 == 0 else sides[::-1]:
            res = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", seed, "--seconds", str(seconds), "--trace", "0",
                 "--results", os.path.join(out, side)],
                cwd=root, stdout=subprocess.PIPE, text=True)
            last = res.stdout.strip().splitlines()[-1:] or [""]
            print(f"{side} seed {seed} rc {res.returncode}: {last[0]}", flush=True)
            if res.returncode != 0:
                return res.returncode
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 6:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:5], sys.argv[5:]))
