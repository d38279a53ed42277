#!/usr/bin/env python3
"""graft benchmark: HRFCO poll latency, backlog replay throughput and the
LLM/relational batch mix, end to end, with a separately traced run that
splits the work by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
(`build.py`), stages seeded inputs in a private working directory under
`.bench_build/`, runs the harness JVM on them, checks the outputs, and
prints one JSON object as the last line of standard output. A traced run
also writes its spans to `.bench_out/`. See README.md for the metrics.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import layers  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("hrfco_stream", "llm_batch")

POOL_ROWS = 100_000          # the events pool: sf0.1's events table size
POLL_ROWS_PER_FILE = 500     # one poll of every station
POLL_PERIOD_MS = 2000       # about twice a warm poll batch: no queueing on a slow host
POLL_FILES = 10
REPLAY_REPS = 2             # cold_s and rows_per_s are medians over this many drains
BACKLOG_FILES = 20
BACKLOG_ROWS_PER_FILE = 5_000
WARM_FILES = 12             # the JIT keeps warming for dozens of batches
BATCH_SF = 0.01
STAGE_REPS = 3
JVM_HEAP = "3g"
JVM_YOUNG = "768m"  # a fixed young generation keeps peak RSS from following GC sizing

BATCH_QUERIES = (
    "dedup_exact sim_topk_ivf_full text_tokens graph_transition_probs q5_region_revenue "
    "q_classify").split()
MIN_WARM_PASSES = 4

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "rows_per_s": "rows/s",
              "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB"}


def cores():
    """Task slots of the session: half the cores. The other half is left to
    the driver, JIT compiler and GC threads, so that tasks do not queue
    behind them. On 4 cores, local[2] runs these workloads as fast as
    local[4], which left the cores 40 % idle."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def stage(workload, seed, base):
    """Write the workload's inputs under `base`; return rows staged."""
    if workload == "llm_batch":
        return gen.stage_tables(seed, os.path.join(base, "tables"), BATCH_SF)
    pool = gen.event_pool(seed, POOL_ROWS)
    os.makedirs(os.path.join(base, "pool"))
    gen.write_events(pool, os.path.join(base, "pool", "events.parquet"))
    files = {"warm": (WARM_FILES, POLL_ROWS_PER_FILE),
             "pending": (POLL_FILES, POLL_ROWS_PER_FILE),
             "backlog": (BACKLOG_FILES, BACKLOG_ROWS_PER_FILE)}
    rows = 0
    for stream, (count, per_file) in files.items():
        d = os.path.join(base, stream)
        os.makedirs(d)
        for i, t in enumerate(gen.stream_files(seed, pool, count, per_file, stream)):
            gen.write_events(t, os.path.join(d, "f%05d.parquet" % i))
            rows += t.num_rows
    return rows


def run_jvm(classpath, workload, work, seconds, trace):
    opts = []
    if workload == "hrfco_stream":
        opts += ["period_ms=%d" % POLL_PERIOD_MS, "replay_reps=%d" % REPLAY_REPS]
    if workload == "llm_batch":
        opts += ["queries=" + ",".join(BATCH_QUERIES), "min_warm=%d" % MIN_WARM_PASSES]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + JVM_HEAP, "-Xms" + JVM_HEAP, "-Xmn" + JVM_YOUNG,
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + build.ADD_OPENS +
           ["-cp", classpath, "perfbench.Harness", workload, work, str(seconds),
            str(trace), str(cores())] + opts)
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness timed out")
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    raw_path = os.path.join(work, "raw.json")
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError("harness exited with %d" % rc)
    with open(raw_path) as f:
        raw = json.load(f)
    raw["launched_s"] = launched
    return raw


def _r(xs):
    return [round(x, 4) for x in xs]


def stream_metrics(raw):
    """Poll latency and per-batch cost from the poll phase; throughput and
    a fresh query's first-batch cost from the backlog drains. Traced
    segments are left out when untraced ones exist."""
    p = raw["poll"]
    file_batch, offsets, commits = M.read_checkpoint(os.path.join(p["dir"], "ckpt"))
    lat, poll_batch_s, errors = [], [], []
    for f in p["files"]:
        b = file_batch.get(f["name"])
        if b is None or b not in commits:
            errors.append("poll file %s never committed" % f["name"])
        elif not f["traced"]:
            lat.append(commits[b] - f["due_us"] / 1e6)
            poll_batch_s.append(commits[b] - offsets[b])
    tail, pct, n = M.tail(lat)
    drains, firsts = [], []
    for r in raw["replay"]["reps"]:
        _, r_off, r_com = M.read_checkpoint(os.path.join(r["dir"], "ckpt"))
        if not r_com:
            errors.append("replay %s committed nothing" % r["dir"])
        elif not r["traced"]:
            drains.append(max(r_com.values()) - r["start_us"] / 1e6)
            firsts.append(r_com[min(r_com)] - r["start_us"] / 1e6)
    rows = BACKLOG_FILES * BACKLOG_ROWS_PER_FILE
    return {
        "latency_p50_ms": M.median(lat) * 1e3,
        "rows_per_s": rows / M.median(drains) if drains else 0.0,
        "cold_s": M.median(firsts), "warm_s": M.median(poll_batch_s),
    }, {"latency_tail_ms": tail * 1e3, "tail_percentile": pct, "samples": n,
        "attempted": len(p["files"]) + len(raw["replay"]["reps"]) + 1,
        "poll_latency_s": _r(lat), "poll_batch_s": _r(poll_batch_s), "drain_s": _r(drains),
        "first_batch_s": _r(firsts)}, errors


def batch_metrics(raw, staged_rows):
    """Cold pass total, steady pass total, and per-query steady times (one
    sample per query per untraced warm pass). The steady pass is the sum of
    each query's median over the warm passes: it uses every sample, and a
    pass the host slowed down moves it less than it moves a median of a
    few pass totals."""
    passes = raw["batch"]["passes"]
    warm = [p for p in passes[1:] if not p["traced"]] or passes[1:]
    totals = [sum(q["build_s"] + q["run_s"] for q in p["queries"]) for p in warm]
    per_query = [q["build_s"] + q["run_s"] for p in warm for q in p["queries"]]
    steady = M.steady_pass_s([{q["name"]: q["build_s"] + q["run_s"] for q in p["queries"]}
                              for p in warm])
    tail, pct, n = M.tail(per_query)
    cold = sum(q["build_s"] + q["run_s"] for q in passes[0]["queries"])
    return {
        "latency_p50_ms": M.median(per_query) * 1e3,
        "rows_per_s": staged_rows / steady, "cold_s": cold, "warm_s": steady,
    }, {"latency_tail_ms": tail * 1e3, "tail_percentile": pct, "samples": n,
        "attempted": sum(len(p["queries"]) for p in passes), "warm_pass_s": _r(totals)}, []


def sink_checks(out_dir):
    """What one drain stored in each sink, read back with DuckDB. The
    archive is JSON lines, so its rows are its lines."""
    con = duckdb.connect()

    def files(sink, pattern):
        return glob.glob(os.path.join(out_dir, sink, pattern), recursive=True)

    def count(sink):
        fs = files(sink, "*.parquet")
        return con.sql("SELECT count(*) FROM read_parquet(%s)" % fs).fetchone()[0] if fs else 0
    archive = 0
    for f in files("archive", "**/part-*"):
        with open(f, "rb") as fh:
            archive += sum(1 for _ in fh)
    ts = files("timeseries", "*.parquet")
    levels = dict(con.sql("SELECT coalesce(flood_warning_level, 'NULL'), count(*) "
                          "FROM read_parquet(%s) GROUP BY 1" % ts).fetchall()) if ts else {}
    return {"dlq": count("dlq"), "archive": archive, "timeseries": count("timeseries"),
            "raw": count("raw"), "levels": levels}


def stream_checks(raw, work):
    inputs = raw["input_checks"]
    return {"poll": {**inputs["poll"], **sink_checks(os.path.join(work, "poll-out"))},
            "poll_replayed": {**inputs["poll"], **sink_checks(os.path.join(work, "poll-replay"))},
            "replay": {**inputs["replay"], **sink_checks(os.path.join(work, "replay-0"))}}


def stream_check_errors(checks):
    errs = []
    for name, c in checks.items():
        errs += ["%s: %s" % (name, e) for e in M.funnel_errors(c)]
    return errs + M.same_output_errors(checks["poll"], checks["poll_replayed"],
                                       "poll vs replay of the same files")


def oracle_errors(work):
    """Each query's result against its DuckDB oracle on the staged copy,
    through the repository's own local verifier."""
    tool = os.path.join(ROOT, "tools", "local_verify.py")
    r = subprocess.run([sys.executable, tool, os.path.join(work, "tables"),
                        os.path.join(work, "results")] + list(BATCH_QUERIES),
                       capture_output=True, text=True, timeout=120)
    fails = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    if r.returncode != 0 and not fails:
        fails = ["local_verify exited %d: %s" % (r.returncode, (r.stdout + r.stderr)[-500:])]
    return fails


# The end-to-end metrics under the names a reader of the design knows them
# by: (name, value, unit) per workload.
def summary(workload, e2e, info, errors):
    tail = ("%s_latency_tail_ms" % ("poll" if workload == "hrfco_stream" else "batch_query"),
            info["latency_tail_ms"], "ms (p%.1f of %d samples)" % (info["tail_percentile"],
                                                                   info["samples"]))
    if workload == "hrfco_stream":
        named = [("poll_latency_p50_ms", e2e["latency_p50_ms"], "ms"), tail,
                 ("replay_rows_per_s", e2e["rows_per_s"], "rows/s")]
    else:
        named = [("batch_cold_s", e2e["cold_s"], "s"), ("batch_warm_s", e2e["warm_s"], "s"),
                 ("batch_query_p50_s", e2e["latency_p50_ms"] / 1e3, "s"), tail]
    named += [("error_rate", len(errors) / info["attempted"], "failed/attempted"),
              ("peak_rss_mb", e2e["peak_rss_mb"], "MB"), ("setup_s", e2e["setup_s"], "s")]
    return "%s: %s; correct=%s" % (workload, ", ".join(
        "%s=%.4g %s" % n for n in named), "true" if not errors else "false")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    cpu0 = M.cpu_times()
    work = os.path.join(build.BUILD, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # set-up is staged STAGE_REPS times from the same seed; the median
        # counts, and the first copy is the one the run reads
        stage_s = []
        for i in range(STAGE_REPS):
            base = work if i == 0 else os.path.join(work, "restage-%d" % i)
            t = time.time()
            staged = stage(a.workload, a.seed, base)
            stage_s.append(time.time() - t)
            if i:
                shutil.rmtree(base)
        raw = run_jvm(classpath, a.workload, work, a.seconds, a.trace)
        start_s = raw["ready_us"] / 1e6 - raw["launched_s"]
        setup = M.median(stage_s) + start_s + raw.get("warmup_s", 0.0)
        if a.workload == "hrfco_stream":
            e2e, info, errors = stream_metrics(raw)
            errors += stream_check_errors(stream_checks(raw, work))
        else:
            e2e, info, errors = batch_metrics(raw, staged)
            errors += oracle_errors(work)
        e2e["setup_s"] = setup
        info["host_steal_share"] = M.steal_share(cpu0, M.cpu_times())
        e2e["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
        info.update({"workload": a.workload, "seed": a.seed, "cores": raw["cores"],
                     "jvm_start_s": start_s, "stage_s": M.median(stage_s),
                     "warmup_s": raw.get("warmup_s", 0.0)})
        if a.trace:
            values, spans = layers.per_layer(a.workload, raw, BATCH_QUERIES)
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, "spans-%s-seed%d.jsonl" % (a.workload, a.seed))
            with open(spans_path, "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
            info["spans"] = os.path.relpath(spans_path, ROOT)
            units = layers.units(BATCH_QUERIES)
            result_metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        else:
            result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("CHECK FAILED:", e)
    if not a.trace:
        print(summary(a.workload, e2e, info, errors))
    print("info:", json.dumps(info))
    print(json.dumps({"correct": not errors, "attempted": info["attempted"],
                      "failed": len(errors), "metrics": result_metrics}))


if __name__ == "__main__":
    try:
        main()
    except RuntimeError as e:
        sys.exit("perfbench: %s" % e)
