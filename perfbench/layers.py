"""Spans and per-layer sums from a traced run's raw listener records.

Spans nest op -> SQL execution -> job -> stage. Each span keeps its parent
id and its pass index, so cold (pass 0) and warm passes stay separable.
A span's self time is its duration minus the part its children cover.
"""
import statistics


def _union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a, b = max(a, lo), min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _op_at(ops, t):
    for op in ops:
        if op["start"] <= t <= op["end"]:
            return op
    return None


def build_spans(record):
    """Returns the span list of the traced passes."""
    ops = [o for o in record["ops"] if o["traced"]]
    by_id = {o["id"]: o for o in ops}
    recs = record["records"]
    jobs, sqls = {}, {}
    for r in recs:
        k = r["kind"]
        if k == "job_start":
            jobs[r["job"]] = dict(r, end=r["t"])
        elif k == "job_end" and r["job"] in jobs:
            jobs[r["job"]].update(end=r["t"], ok=r["ok"])
        elif k == "sql_start":
            sqls[r["sql"]] = dict(r, end=r["t"])
        elif k == "sql_end" and r["sql"] in sqls:
            sqls[r["sql"]]["end"] = r["t"]

    spans = [{"kind": "op", "id": o["id"], "parent": None, "pass": o["pass"],
              "name": o["name"], "layer": o["layer"], "start": o["start"],
              "end": o["end"], "error": o["error"]} for o in ops]
    sql_parent = {}
    for sid, s in sorted(sqls.items()):
        op = _op_at(ops, s["t"])
        if op is None:
            continue
        sql_parent[sid] = op
        spans.append({"kind": "sql", "id": f"sql{sid}", "parent": op["id"],
                      "pass": op["pass"], "name": f"execution {sid}",
                      "start": s["t"], "end": s["end"]})
    job_op = {}
    for jid, j in sorted(jobs.items()):
        op = by_id.get(j.get("op")) or _op_at(ops, j["t"])
        if op is None:
            continue
        job_op[jid] = op
        sql = j.get("sql")
        sql = int(sql) if sql is not None else None
        parent = f"sql{sql}" if sql in sql_parent else op["id"]
        spans.append({"kind": "job", "id": f"job{jid}", "parent": parent,
                      "pass": op["pass"], "name": f"job {jid}",
                      "phase": j.get("phase"), "start": j["t"], "end": j["end"],
                      "ok": j.get("ok", False)})
    stage_job = {}
    for jid, j in jobs.items():
        for sid in j["stages"]:
            stage_job.setdefault(sid, []).append(jid)
    for r in recs:
        if r["kind"] != "stage" or r["start"] is None:
            continue
        owners = [j for j in stage_job.get(r["stage"], []) if j in job_op]
        inside = [j for j in owners if jobs[j]["t"] <= r["start"] <= jobs[j]["end"]]
        jid = (inside or owners or [None])[0]
        if jid is None:
            continue
        span = {k: v for k, v in r.items() if k not in ("kind", "stage", "end")}
        span.update(kind="stage", id=f"stage{r['stage']}.{r['attempt']}",
                    parent=f"job{jid}", name=f"stage {r['stage']}",
                    end=r["end"] if r["end"] is not None else r["start"])
        span["pass"] = job_op[jid]["pass"]
        spans.append(span)

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["self_ms"] = (s["end"] - s["start"]) - _union_ms(kids, s["start"], s["end"])
    return spans


_STAGE_SUMS = {"spark.tasks": "tasks", "spark.failed_tasks": "failed_tasks",
               "spark.task_run_s": "run_s", "spark.task_cpu_s": "cpu_s",
               "spark.gc_s": "gc_s", "spark.sched_delay_s": "sched_delay_s",
               "sources.input_bytes": "input_bytes", "io.output_bytes": "output_bytes",
               "shuffle.write_bytes": "shuffle_write_bytes",
               "shuffle.read_bytes": "shuffle_read_bytes",
               "shuffle.fetch_wait_s": "fetch_wait_s",
               "shuffle.spill_bytes": "spill_bytes"}
_STREAM = {"streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
           "streaming.query_planning_s": "queryPlanning",
           "streaming.wal_commit_s": "walCommit"}


def pass_layers(record, spans, pass_idx, names):
    """Per-layer sums of one traced pass, for the metric `names`."""
    cores = record["cores"]
    ops = [o for o in record["ops"] if o["pass"] == pass_idx]
    sp = [s for s in spans if s["pass"] == pass_idx]
    jobs = [s for s in sp if s["kind"] == "job"]
    stages = [s for s in sp if s["kind"] == "stage"]
    op_of = {s["id"]: s for s in sp if s["kind"] == "op"}
    by_id = {s["id"]: s for s in sp}

    def op_id(span):
        while span["kind"] != "op":
            span = by_id[span["parent"]]
        return span["id"]

    job_layer = {j["id"]: op_of[op_id(j)]["layer"] for j in jobs}
    m = {k: 0.0 for k in names}
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.sql_executions"] = sum(1 for s in sp if s["kind"] == "sql")
    m["queries.build_jobs"] = sum(1 for j in jobs if j.get("phase") == "build"
                                  and job_layer[j["id"]] == "queries")
    m["catalog.load_jobs"] = sum(1 for j in jobs if job_layer[j["id"]] == "catalog.load")
    job_iv = [(j["start"], j["end"]) for j in jobs]
    for o in ops:
        m["spark.outside_jobs_s"] += ((o["end"] - o["start"])
                                      - _union_ms(job_iv, o["start"], o["end"])) / 1e3
        for ph in o["phases"]:
            key = f"queries.{ph['name']}_s"
            if key in m:
                m[key] += (ph["end"] - ph["start"]) / 1e3
        layer_key = {"etl.build": "etl.build_s", "catalog.load": "catalog.load_s",
                     "catalog.export": "catalog.export_s",
                     "catalog.import": "catalog.import_s",
                     "catalog.introspect": "catalog.introspect_s"}.get(o["layer"])
        if layer_key:
            m[layer_key] += o["secs"]
        for k, v in o["counters"].items():
            m[k] += v
    for key, field in _STAGE_SUMS.items():
        m[key] = sum(s[field] for s in stages)
    tasks = m["spark.tasks"]
    m["spark.empty_task_share"] = sum(s["empty_tasks"] for s in stages) / tasks if tasks else 0.0
    busy_ms = _union_ms(job_iv)
    m["spark.core_busy"] = m["spark.task_run_s"] / (busy_ms / 1e3 * cores) if busy_ms else 0.0
    for s in sp:
        m[f"self.{s['kind']}_s"] += s["self_ms"] / 1e3

    lo = min(o["start"] for o in ops) if ops else 0
    hi = max(o["end"] for o in ops) if ops else 0
    last_state = {}
    for r in record["records"]:
        if r["kind"] == "catalyst" and lo <= r["t"] <= hi:
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_s"] += r.get(ph, 0) / 1e3
        elif r["kind"] == "progress" and lo <= r["t"] <= hi:
            m["streaming.batches"] += 1
            for key, field in _STREAM.items():
                m[key] += r.get(field, 0) / 1e3
            last_state[r["run"]] = r["state_rows"]
    m["streaming.state_rows"] = sum(last_state.values())
    return m


def summarize(record, spans, names):
    """Median over the traced warm passes of each per-pass layer sum, plus
    the set-up and overhead figures, and the cold pass on its own."""
    traced = [p for p in record["passes"] if p["traced"] and p["pass"] > 0]
    untraced = [p for p in record["passes"] if not p["traced"] and p["pass"] > 0]
    per_pass = [pass_layers(record, spans, p["pass"], names) for p in traced]
    warm = {k: statistics.median(pp[k] for pp in per_pass) for k in names}
    cold = pass_layers(record, spans, 0, names) if record["passes"][0]["traced"] else {}
    load = statistics.median(s["sources_s"] for s in record["setups"])
    warm["sources.load_s"] = cold["sources.load_s"] = load
    warm["trace.overhead_share"] = (
        statistics.median(p["secs"] for p in traced)
        / statistics.median(p["secs"] for p in untraced) - 1)
    cold.pop("trace.overhead_share", None)
    return warm, cold

