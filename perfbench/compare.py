#!/usr/bin/env python3
"""Compares two result sets of the benchmark, metric by metric.

Usage:
    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the per-run result files run.py writes
(`<workload>-seed<n>-trace<t>.json`, by default under
.bench_build/results/). Make the two sets with ab.py, which interleaves
base and new runs and alternates which side runs first, so that the host's
drift falls on both sides alike. Runs are paired in the order they started:
the i-th base run with the i-th new run. For every workload and end-to-end
metric in BENCHMARK.json it reports the two medians and quartile spreads,
the pairs the new side wins, and one verdict:

  worse       the new median is worse than the base median by more than
              the metric's bound
  improved    the new median is better by more than the base's own
              quartile spread, and the new side wins at least nine tenths
              of at least ten pairs (ties count for neither side)
  unchanged   neither, with both spreads inside the bound
  unresolved  a spread is wider than the bound, unless every new run reads
              better (improved) or worse (worse) than every base run

Per-layer metrics of traced runs are diffed as medians and ratios, without
verdicts: they have no bounds. The exit code is 1 if any metric is worse.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["started"])
    return runs


def spread(vals):
    if len(vals) < 2:
        return float("inf")
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / statistics.median(vals)


def wins(base, new, lower_better):
    """Pairs, in start order, that the new side wins; and the pair count."""
    sign = 1 if lower_better else -1
    pairs = list(zip(base, new))
    return sum(1 for b, n in pairs if sign * n < sign * b), len(pairs)


def verdict(base, new, bound, lower_better):
    sign = 1 if lower_better else -1
    bm, nm = statistics.median(base), statistics.median(new)
    delta = sign * (nm - bm) / bm  # > 0 means worse
    sb, sn = spread(base), spread(new)
    all_better = all(sign * n < sign * b for n in new for b in base)
    all_worse = all(sign * n > sign * b for n in new for b in base)
    if max(sb, sn) > bound:
        return "improved" if all_better else "worse" if all_worse else "unresolved"
    if delta > bound:
        return "worse"
    won, n_pairs = wins(base, new, lower_better)
    if -delta > sb and n_pairs >= 10 and won >= 0.9 * n_pairs:
        return "improved"
    return "unchanged"


def main(base_dir, new_dir):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base, new = load(base_dir), load(new_dir)
    worse = 0
    for wl in (w["name"] for w in bench["workloads"]):
        b_runs, n_runs = base.get((wl, 0), []), new.get((wl, 0), [])
        print(f"== {wl}: {len(b_runs)} base runs, {len(n_runs)} new runs")
        for m in bench["end_to_end"]:
            bv = [r["end_to_end"][m["name"]] for r in b_runs]
            nv = [r["end_to_end"][m["name"]] for r in n_runs]
            if not bv or not nv:
                print(f"  {m['name']:<14} missing")
                continue
            lower = m["better"] == "lower"
            v = verdict(bv, nv, m["bound"], lower)
            worse += v == "worse"
            bm, nm = statistics.median(bv), statistics.median(nv)
            won, n_pairs = wins(bv, nv, lower)
            print(f"  {m['name']:<14} base {bm:11.4f} (spread {spread(bv):6.3f})  "
                  f"new {nm:11.4f} (spread {spread(nv):6.3f})  "
                  f"{(nm - bm) / bm:+7.2%} {m['unit']:<4} bound {m['bound']:.2f}  "
                  f"new wins {won}/{n_pairs}  {v}")
        b_tr, n_tr = base.get((wl, 1), []), new.get((wl, 1), [])
        if b_tr and n_tr:
            print(f"  per-layer ({len(b_tr)} base / {len(n_tr)} new traced runs):")
            for m in bench["per_layer"]:
                bm = statistics.median(r["per_layer"][m["name"]] for r in b_tr)
                nm = statistics.median(r["per_layer"][m["name"]] for r in n_tr)
                ratio = f"{nm / bm:8.3f}x" if bm else "        -"
                print(f"    {m['name']:<28} {bm:16.4f} -> {nm:16.4f} {ratio} {m['unit']}")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
