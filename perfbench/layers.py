"""Per-layer metrics and spans of a traced run.

The traced run registers its listeners only around some segments: the
second half of the poll phase, one replay drain between two untraced
ones, and the cold pass and one warm pass between two untraced ones.
This module turns the records of those segments, plus the probes the
harness runs afterwards, into one value per per-layer metric and a list
of spans. Every workload reports every metric: a layer a workload
bypasses reads 0 there, which is the bypass prediction.
"""
import datetime
import os

import metrics as M

FAMILIES = {"dedup": "dedup_", "sim": "sim_", "text": "text_", "graph": "graph_"}
HRFCO_QUERIES = {"q_threshold_dim", "q_station_detail", "q_classify", "q_alerts",
                 "q_dlq", "q_alert_counts"}
SINK_LAYERS = ("archive", "timeseries", "raw", "dlq")
STREAM_DURATIONS = ("addBatch", "queryPlanning", "latestOffset", "getBatch",
                    "walCommit", "commitOffsets")


def _snake(name):
    return "".join("_" + c.lower() if c.isupper() else c for c in name)


def family(query):
    for fam, prefix in FAMILIES.items():
        if query.startswith(prefix):
            return fam
    return "hrfco" if query in HRFCO_QUERIES else "relational"


def units(queries):
    u = {"tables.scan_s": "s", "tables.input_rows": "rows", "tables.input_bytes": "bytes",
         "tables.scan_tasks": "count",
         "hrfco.raw_s": "s", "hrfco.parse_s": "s", "hrfco.classify_s": "s", "hrfco.alert_s": "s",
         "thresholds.dim_s": "s"}
    u.update({"sinks.%s_s" % s: "s" for s in SINK_LAYERS})
    u.update({"sinks.files_written": "count", "sinks.bytes_written": "bytes",
              "sinks.failures": "count", "stream.batches": "count",
              "stream.rows_per_batch": "rows"})
    u.update({"stream.%s_ms" % _snake(d): "ms" for d in STREAM_DURATIONS})
    u.update({"stream.jobs_per_batch": "count", "stream.tasks_per_batch": "count",
              "stream.core_busy_share": "share",
              "entry.build_s": "s", "entry.build_jobs": "count", "entry.plan_ms": "ms",
              "entry.jobs": "count", "entry.stages": "count", "entry.tasks": "count",
              "artifacts.built": "count", "artifacts.reused": "count",
              "artifacts.build_s": "s", "artifacts.bytes": "bytes",
              "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_write_bytes": "bytes",
              "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
              "exec.peak_mem_bytes": "bytes"})
    u.update({"%s.warm_s" % f: "s" for f in ("dedup", "sim", "text", "graph", "relational")})
    u["hrfco.batch_warm_s"] = "s"
    u.update({"query.%s.warm_s" % q: "s" for q in queries})
    u.update({"gen.lateness_ms": "ms", "trace.overhead_share": "share"})
    return u


def _iso_s(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _job_s(j):
    return (j["end_ms"] - j["start_ms"]) / 1e3 if j["end_ms"] else 0.0


def _is_table_scan(path):
    return not any(k in path for k in ("graft-artifacts", "/archive", "/timeseries",
                                       "/raw", "/dlq", "/results"))


def _exec_window(e):
    """Midpoint of a finished SQL execution, in epoch seconds."""
    return e["end_ms"] / 1e3 - e["duration_ns"] / 2e9


def _exec_sums(stages):
    return {"exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "exec.spill_bytes": sum(s["spill"] for s in stages),
            "exec.peak_mem_bytes": max([s["peak_mem"] for s in stages] or [0])}


def _scan_sums(executions):
    scans = [s for e in executions for s in e["scans"]
             if s["paths"] and all(_is_table_scan(p) for p in s["paths"])]
    return {"tables.scan_s": sum(s["scan_ms"] for s in scans) / 1e3,
            "tables.input_rows": sum(s["rows"] for s in scans),
            "tables.input_bytes": sum(s["bytes"] for s in scans),
            "tables.scan_tasks": sum(s["tasks"] for s in scans)}


def _probes(raw):
    p = raw["probe_prefix_s"]
    return {"hrfco.raw_s": p["raw"] - p["scan"], "hrfco.parse_s": p["parse"] - p["raw"],
            "hrfco.classify_s": p["classify"] - p["parse"],
            "hrfco.alert_s": p["alert"] - p["classify"],
            "thresholds.dim_s": raw["probe_dim_s"]}


def _data_files(top):
    files, size = 0, 0
    for d, _, fs in os.walk(top):
        for f in fs:
            if f.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def stream_layers(raw, v, spans, run_id):
    jobs, stages = raw.get("jobs", []), {s["id"]: s for s in raw.get("stages", [])}
    poll_q = raw["poll"]["query_id"]
    traced_reps = [r for r in raw["replay"]["reps"] if r["traced"]]
    replay_qs = {r["query_id"] for r in traced_reps}
    batches = {}
    for p in raw.get("progress", []):
        if p["rows"] > 0 and p["query_id"] in replay_qs | {poll_q}:
            batches[(p["query_id"], str(p["batch_id"]))] = p
    by_batch = {}
    for j in jobs:
        by_batch.setdefault((j["query_id"], j["batch_id"]), []).append(j)

    def batch_stages(key):
        return [stages[s] for j in by_batch.get(key, []) for s in j["stages"] if s in stages]

    def scan_stage(key):
        """The first stage of a batch's first job: the one that reads its files."""
        first = min(by_batch.get(key, [{"id": 0, "stages": [-1]}]), key=lambda j: j["id"])
        return stages.get(min(first["stages"]), {"tasks": 0})

    poll_b = [k for k in batches if k[0] == poll_q]
    replay_b = [k for k in batches if k[0] in replay_qs]
    v["stream.batches"] = len(batches)
    v["stream.rows_per_batch"] = M.median([batches[k]["rows"] for k in replay_b])
    for d in STREAM_DURATIONS:
        v["stream.%s_ms" % _snake(d)] = M.median(
            [batches[k]["durations"].get(d, 0) for k in poll_b])
    v["stream.jobs_per_batch"] = M.median([len(by_batch.get(k, [])) for k in poll_b])
    v["stream.tasks_per_batch"] = M.median(
        [max([s["tasks"] for s in batch_stages(k)] or [0]) for k in replay_b])
    v["stream.core_busy_share"] = M.median(
        [sum(s["task_ms"] for s in batch_stages(k)) /
         max(1.0, batches[k]["durations"].get("triggerExecution", 1) * raw["cores"])
         for k in replay_b])
    for layer in SINK_LAYERS:
        v["sinks.%s_s" % layer] = sum(_job_s(j) for j in jobs
                                      if M.layer_of(j["callsite"], j["plan"]) == "sinks." + layer)
    v["sinks.failures"] = sum(1 for j in jobs if j["ok"] is False
                              and M.layer_of(j["callsite"], j["plan"]).startswith("sinks."))
    files = size = 0
    for d in [raw["poll"]["dir"]] + [r["dir"] for r in traced_reps]:
        for layer in SINK_LAYERS:
            f, s = _data_files(os.path.join(d, layer))
            files, size = files + f, size + s
    v["sinks.files_written"], v["sinks.bytes_written"] = files, size
    v.update(_exec_sums(list(stages.values())))
    # foreachBatch hands the batch over as an RDD, which hides the file scan
    # from the plan (and cached re-reads inflate task input metrics): count
    # the scan from the source side, and time it with the scan probe
    v["tables.scan_s"] = raw["probe_prefix_s"]["scan"]
    v["tables.input_rows"] = sum(p["rows"] for p in batches.values())
    scanned = [os.path.join(os.path.dirname(raw["poll"]["dir"]), "incoming", f["name"])
               for f in raw["poll"]["files"] if f["traced"]]
    backlog = os.path.join(os.path.dirname(raw["poll"]["dir"]), "backlog")
    scanned += [os.path.join(backlog, f) for f in os.listdir(backlog)] * len(traced_reps)
    v["tables.input_bytes"] = sum(os.path.getsize(f) for f in scanned if os.path.exists(f))
    v["tables.scan_tasks"] = sum(scan_stage(k)["tasks"] for k in batches)
    late = [(f["landed_us"] - f["due_us"]) / 1e3 for f in raw["poll"]["files"]]
    v["gen.lateness_ms"] = max(late or [0.0])
    # the traced drain against the mean of the untraced drains on either side
    drains = [(r["end_us"] - r["start_us"]) / 1e6 for r in raw["replay"]["reps"]]
    t = [i for i, r in enumerate(raw["replay"]["reps"]) if r["traced"]]
    if t and 0 < t[0] < len(drains) - 1:
        i = t[0]
        v["trace.overhead_share"] = drains[i] / ((drains[i - 1] + drains[i + 1]) / 2) - 1

    # spans: run -> streaming query -> micro-batch -> Spark job
    for name, qid in [("poll", poll_q)] + [("replay", r["query_id"]) for r in traced_reps]:
        keys = [k for k in batches if k[0] == qid]
        if not keys:
            continue
        bspans = []
        for k in sorted(keys, key=lambda k: int(k[1])):
            p = batches[k]
            start = _iso_s(p["timestamp"])
            bspans.append({"id": "batch:%s:%s" % k, "parent": "query:" + qid,
                           "name": "micro-batch %s" % k[1], "layer": "stream",
                           "start": start,
                           "end": start + p["durations"].get("triggerExecution", 0) / 1e3,
                           "rows": p["rows"]})
        spans.append({"id": "query:" + qid, "parent": "run:" + run_id, "name": name,
                      "layer": "stream", "start": bspans[0]["start"], "end": bspans[-1]["end"]})
        spans.extend(bspans)


def batch_layers(raw, v, spans, run_id, queries):
    passes = raw["batch"]["passes"]
    jobs, stages = raw.get("jobs", []), {s["id"]: s for s in raw.get("stages", [])}
    executions = raw.get("executions", [])
    traced_warm = [i for i, p in enumerate(passes) if i > 0 and p["traced"]]
    untraced_warm = [i for i, p in enumerate(passes) if i > 0 and not p["traced"]]
    w = traced_warm[0] if traced_warm else None

    def pass_jobs(i, kind=None):
        return [j for j in jobs if j["phase"] and j["phase"].split(":")[1] == str(i)
                and (kind is None or j["phase"].startswith(kind + ":"))]

    if w is not None:
        wq = passes[w]["queries"]
        v["entry.build_s"] = sum(q["build_s"] for q in wq)
        v["entry.build_jobs"] = len(pass_jobs(w, "build"))
        plan = 0.0
        for q in wq:
            lo, hi = q["start_us"] / 1e6 + q["build_s"], q["end_us"] / 1e6
            mine = [e for e in executions if lo <= _exec_window(e) <= hi]
            if mine:
                final = max(mine, key=lambda e: e["duration_ns"])
                plan += sum(final["phases_ms"].get(k, 0) for k in
                            ("analysis", "optimization", "planning"))
        v["entry.plan_ms"] = plan
        pj = pass_jobs(w)
        v["entry.jobs"] = len(pj)
        v["entry.stages"] = sum(len(j["stages"]) for j in pj)
        v["entry.tasks"] = sum(stages[s]["tasks"] for j in pj for s in j["stages"] if s in stages)
        v.update(_exec_sums([stages[s] for j in pj for s in j["stages"] if s in stages]))
        lo, hi = wq[0]["start_us"] / 1e6, wq[-1]["end_us"] / 1e6
        in_pass = [e for e in executions if lo <= _exec_window(e) <= hi]
        v.update(_scan_sums(in_pass))
        v["artifacts.reused"] = len({p for e in in_pass for s in e["scans"]
                                     for p in s["paths"] if "graft-artifacts" in p})
    cold = passes[0]
    v["artifacts.built"] = sum(len(q["artifacts_new"]) for q in cold["queries"])
    v["artifacts.build_s"] = sum(_job_s(j) for j in pass_jobs(0)
                                 if M.layer_of(j["callsite"], j["plan"]) == "artifacts")
    v["artifacts.bytes"] = raw["artifact_bytes"]
    steady = {}
    for i in untraced_warm or traced_warm:
        for q in passes[i]["queries"]:
            steady.setdefault(q["name"], []).append(q["build_s"] + q["run_s"])
    steady = {k: M.median(x) for k, x in steady.items()}
    for q in queries:
        v["query.%s.warm_s" % q] = steady.get(q, 0.0)
    for fam in ("dedup", "sim", "text", "graph", "relational"):
        v["%s.warm_s" % fam] = sum(t for q, t in steady.items() if family(q) == fam)
    v["hrfco.batch_warm_s"] = sum(t for q, t in steady.items() if family(q) == "hrfco")
    # the traced warm pass against the mean of the untraced ones around it
    if w is not None and w + 1 < len(passes) and not passes[w - 1]["traced"]:
        def total(i):
            return sum(q["build_s"] + q["run_s"] for q in passes[i]["queries"])
        v["trace.overhead_share"] = total(w) / ((total(w - 1) + total(w + 1)) / 2) - 1

    # spans: run -> pass -> query -> Spark job
    for i, p in enumerate(passes):
        if not p["traced"]:
            continue
        qs = p["queries"]
        spans.append({"id": "pass:%d" % i, "parent": "run:" + run_id,
                      "name": "cold pass" if i == 0 else "warm pass %d" % i, "layer": "entry",
                      "start": qs[0]["start_us"] / 1e6, "end": qs[-1]["end_us"] / 1e6})
        for q in qs:
            spans.append({"id": "query:%d:%s" % (i, q["name"]), "parent": "pass:%d" % i,
                          "name": q["name"], "layer": family(q["name"]),
                          "start": q["start_us"] / 1e6, "end": q["end_us"] / 1e6,
                          "build_s": q["build_s"], "artifacts_new": q["artifacts_new"]})


def per_layer(workload, raw, queries):
    """(metric values, spans) of one traced run."""
    run_id = "%s-%d" % (workload, raw["run_start_us"])
    names = units(queries)
    v = dict.fromkeys(names, 0.0)
    spans = [{"id": "run:" + run_id, "parent": None, "name": "run " + workload,
              "layer": "run", "start": raw["run_start_us"] / 1e6,
              "end": raw["run_end_us"] / 1e6}]
    if workload == "hrfco_stream":
        stream_layers(raw, v, spans, run_id)
    else:
        batch_layers(raw, v, spans, run_id, queries)
    v.update(_probes(raw))
    # Spark jobs hang under the span whose query/pass or micro-batch they ran in
    ids = {s["id"] for s in spans}
    for j in raw.get("jobs", []):
        if j["batch_id"] is not None:
            parent = "batch:%s:%s" % (j["query_id"], j["batch_id"])
        elif j["phase"] and ":" in j["phase"]:
            _, i, q = j["phase"].split(":", 2)
            parent = "query:%s:%s" % (i, q)
        else:
            parent = "run:" + run_id
        spans.append({"id": "job:%d" % j["id"],
                      "parent": parent if parent in ids else "run:" + run_id,
                      "name": "job %d" % j["id"], "layer": M.layer_of(j["callsite"], j["plan"]),
                      "start": j["start_ms"] / 1e3,
                      "end": (j["end_ms"] or j["start_ms"]) / 1e3, "ok": j["ok"]})
    children = {}
    for s in spans:
        s["run_id"] = run_id
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self_s"] = M.self_time(s, children.get(s["id"], []))
    return {k: v[k] for k in names}, spans
