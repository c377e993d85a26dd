#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload worldcup_elt --seed 1 --seconds 15 --trace 0

It builds the engine and the harness from source on first use, generates
the workload's inputs from the seed, runs the harness in one JVM
(local[nproc], shuffle partitions = nproc), compares every output with its
DuckDB oracle, and prints a report followed by one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full result, including the generated input sizes and
(when traced) the span file, is kept under .bench_build/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = os.path.join(ROOT, "src", "test", "resources", "worldcup")

# Inputs per workload: corpus_pipeline reads the generated corpus tables
# at this scale (1.0 = 6M lineitems); worldcup_elt reads this many tagged
# copies of the World Cup fixture CSVs.
CORPUS_SCALE = 0.01
WORLDCUP_COPIES = 100
# The heap is fixed and touched at start, so VmHWM minus the heap is the
# native peak, whatever G1's sizing; the heap's share of peak_mem_mb is the
# live heap measured after a full collection at the end of each pass.
HEAP = "2g"
# Cold set-ups per run, each in a fresh JVM timed from process start: the
# benchmark's own JVM and SETUPS - 1 that only set up. setup_s is their
# median. A cold set-up of corpus_pipeline takes ~10 s, so a third one
# would leave too little of the benchmark's time budget.
SETUPS = 2
# Warm passes every run makes at least, on top of --seconds. A traced run
# traces the even warm passes, so three give one traced pass between two
# untraced ones and the overhead figure is not biased by warm-up order.
MIN_WARM = 3
# Every JVM of a run must end by then, counted from the run's start.
RUN_TIMEOUT_S = 170
# Few malloc arenas keep the JVM's native footprint, and so peak_mem_mb,
# from varying with how many threads happened to allocate.
JVM_ENV = dict(os.environ, MALLOC_ARENA_MAX="2")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spec():
    """BENCHMARK.json: the workloads and the metric names and units."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        die(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def quantile(sorted_vals, p):
    """Nearest-rank p-th percentile."""
    k = max(1, math.ceil(p / 100 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(op_secs):
    """The highest percentile with at least ten samples beyond it, or None
    when there are fewer than eleven samples."""
    for p in (99.9, 99.5, 99, 98, 97.5, 95, 90, 85, 80, 75, 66, 50):
        if len(op_secs) * (1 - p / 100) >= 10:
            return p, quantile(op_secs, p)
    return None, None


def end_to_end(rec):
    """The metrics BENCHMARK.json gates, plus op_p50_s, which is only
    reported: the median of a few unlike ops, its run-to-run spread on a
    shared host is too wide to carry a bound."""
    warm = [p["secs"] for p in rec["passes"] if p["pass"] > 0]
    op_secs = sorted(o["secs"] for o in rec["ops"] if o["pass"] > 0)
    m = {"setup_s": statistics.median(s["setup_s"] for s in rec["setups"]),
         "cold_pass_s": rec["passes"][0]["secs"],
         "warm_pass_s": statistics.median(warm),
         "op_p50_s": statistics.median(op_secs),
         "peak_mem_mb": rec["native_peak_mb"] + max(p["live_heap_mb"] for p in rec["passes"])}
    by_name = {}
    for o in rec["ops"]:
        if o["pass"] > 0:
            by_name.setdefault(o["name"], []).append(o["secs"])
    pct, tail_s = tail(op_secs)
    note = {"op_median_s": {k: statistics.median(v) for k, v in by_name.items()},
            "cold_op_s": {o["name"]: o["secs"] for o in rec["ops"] if o["pass"] == 0},
            "op_tail_percentile": pct, "op_tail_s": tail_s,
            "op_samples": len(op_secs), "warm_passes": len(warm),
            "setup_samples_s": [s["setup_s"] for s in rec["setups"]],
            "native_peak_mb": rec["native_peak_mb"],
            "live_heap_mb": [p["live_heap_mb"] for p in rec["passes"]]}
    return m, note


def run_jvm(cmd, cwd, log, deadline):
    with open(log, "w") as fh:
        try:
            return subprocess.run(cmd, cwd=cwd, stdout=fh, env=JVM_ENV,
                                  stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                  timeout=max(1.0, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            die(f"harness timed out {RUN_TIMEOUT_S} s after the run started; see {log}")


def main():
    started = time.time()
    bench = spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(BUILD, "results"),
                    help="directory for the full per-run result file")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")) or not os.path.isdir(FIXTURES):
        die("run from the root of a checkout of the engine (src/main/scala/graft "
            "and src/test/resources/worldcup are missing)")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")

    classes = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "cwd"):
        os.makedirs(os.path.join(work, d))
    if a.workload == "worldcup_elt":
        inputs = gen.worldcup(a.seed, FIXTURES, WORLDCUP_COPIES, data)
    else:
        inputs = gen.star(a.seed, CORPUS_SCALE, data)

    cores = len(os.sched_getaffinity(0))
    raw = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dgraft.worldcup.fixtures={data}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", work,
           "--cores", str(cores), "--min-warm", str(MIN_WARM)]
    t0 = time.time()
    deadline = started + RUN_TIMEOUT_S
    cwd = os.path.join(work, "cwd")
    log = os.path.join(work, "jvm.log")
    rc = run_jvm(cmd + ["--out", raw], cwd, log, deadline)
    if rc != 0 or not os.path.exists(raw):
        die(f"harness failed (rc={rc}); see {log}")
    with open(raw) as fh:
        rec = json.load(fh)
    rec["setups"] = [rec.pop("setup")]
    for i in range(1, SETUPS):
        out, log = os.path.join(work, f"setup{i}.json"), os.path.join(work, f"setup{i}.log")
        rc = run_jvm(cmd + ["--out", out, "--setup-only", "1"], cwd, log, deadline)
        if rc != 0 or not os.path.exists(out):
            die(f"set-up {i} failed (rc={rc}); see {log}")
        with open(out) as fh:
            rec["setups"].append(json.load(fh))

    checks = oracle.run_checks(rec["checks"], data, a.workload != "worldcup_elt")
    failed_ops = [o for o in rec["ops"] if o["error"]]
    failed_checks = [c for c in checks if c["status"] == "FAIL"]
    attempted = len(rec["ops"]) + len(checks)
    failed = len(failed_ops) + len(failed_checks)

    e2e, note = end_to_end(rec)
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "started": started,
              "nproc": cores, "heap_mb": rec["heap_mb"], "inputs": inputs,
              "end_to_end": e2e, "notes": note,
              "failed_share": failed / attempted,
              "failed_ops": [(o["id"], o["name"], o["error"]) for o in failed_ops],
              "checks": checks, "wall_s": time.time() - t0}
    if a.trace:
        spans = layers.build_spans(rec)
        warm, cold = layers.summarize(rec, spans, [m["name"] for m in bench["per_layer"]])
        result.update(per_layer=warm, per_layer_cold=cold)
        os.makedirs(a.results, exist_ok=True)
        span_file = os.path.join(a.results, f"{tag}.spans.jsonl")
        with open(span_file, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        result["spans"] = span_file
    os.makedirs(a.results, exist_ok=True)
    with open(os.path.join(a.results, f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    metric_set = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = result["per_layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metric_set}
    report(result, bench)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def report(r, bench):
    print(f"workload {r['workload']}  seed {r['seed']}  nproc {r['nproc']}  "
          f"heap {r['heap_mb']} MiB  trace {r['trace']}")
    print("inputs: " + ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B"
                                 for t, v in r["inputs"].items()))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for k, v in r["end_to_end"].items():
        print(f"  {k:<14} {v:12.4f} {units.get(k, 's, reported only')}")
    n = r["notes"]
    if n["op_tail_s"] is None:
        print(f"  op_tail_s      n/a: {n['op_samples']} op samples over "
              f"{n['warm_passes']} warm passes, fewer than 11")
    else:
        print(f"  op_tail_s      {n['op_tail_s']:12.4f} s, the p{n['op_tail_percentile']} "
              f"of {n['op_samples']} op samples over {n['warm_passes']} warm passes")
    print(f"  failed_share   {r['failed_share']:12.4f} (failed ops and checks / attempted)")
    st = [c["status"] for c in r["checks"]]
    print(f"output checks: {st.count('PASS')} pass, {st.count('FAIL')} fail, "
          f"{st.count('NO ORACLE')} without an oracle")
    for c in r["checks"]:
        if c["status"] != "PASS":
            print(f"  {c['status']} {c['name']}: {c.get('detail', '')}")
    for op_id, name, err in r["failed_ops"]:
        print(f"  FAILED op {op_id} {name}: {err}")
    if "per_layer" in r:
        for m in bench["per_layer"]:
            print(f"  {m['name']:<28} {r['per_layer'][m['name']]:16.4f} {m['unit']}")
        print(f"spans: {r['spans']}")


if __name__ == "__main__":
    main()
