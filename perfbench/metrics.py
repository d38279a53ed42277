"""Pure functions that turn the harness's raw records into metrics.

Kept apart from the I/O in `run.py` so the benchmark's own tests can pin
them: the tail-percentile rule, the streaming funnel, the checkpoint-log
parsing, the call-site-to-layer mapping and span self time.
"""
import json
import os
import re
import statistics

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples beyond it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, sample count). With n sorted samples the
    value at 0-based index k has n-1-k samples above it, so the tail is
    index n-1-TAIL_BEYOND and its nearest-rank percentile is 100*(k+1)/n.
    With too few samples the maximum is returned and the percentile is
    100, so a short run never reports an optimistic tail.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - 1 - TAIL_BEYOND
    if k < 0:
        return s[-1], 100.0, n
    return s[k], 100.0 * (k + 1) / n, n


def steady_pass_s(passes):
    """A pass's steady time from several passes, each a {query: seconds}
    map: the sum over queries of each query's median."""
    names = sorted({n for p in passes for n in p})
    return sum(median([p[n] for p in passes if n in p]) for n in names)


def cpu_times():
    """The host's cumulative CPU time columns from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this machine between two
    `cpu_times` readings: a sign of how busy a shared host was. A busy
    host slows a run by more than the time it takes."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def funnel_errors(c):
    """Mismatches of one drained stream against its input: every row is
    either DLQ'd, dropped by the required-field check, or stored; the
    three stores hold the same rows; and the stored flood levels equal
    batch `Hrfco.pipeline` over the same files with the same dim."""
    errs = []
    if c["rows_in"] != c["dlq"] + c["required_drops"] + c["timeseries"]:
        errs.append("funnel: rows_in %d != dlq %d + drops %d + stored %d" % (
            c["rows_in"], c["dlq"], c["required_drops"], c["timeseries"]))
    if not c["archive"] == c["timeseries"] == c["raw"]:
        errs.append("sinks: archive %d, timeseries %d, raw %d" % (
            c["archive"], c["timeseries"], c["raw"]))
    if c["levels"] != c["batch_levels"]:
        errs.append("levels: stream %s != batch %s" % (
            sorted(c["levels"].items()), sorted(c["batch_levels"].items())))
    return errs


def same_output_errors(a, b, what):
    """Two drains of the same input must store the same rows."""
    keys = ("dlq", "timeseries", "archive", "raw", "levels")
    diff = [k for k in keys if a[k] != b[k]]
    return ["%s: %s differ (%s)" % (what, ", ".join(diff),
                                    "; ".join("%s %s vs %s" % (k, a[k], b[k]) for k in diff))] if diff else []


def read_checkpoint(ckpt):
    """Map each source file to the micro-batch that consumed it, and each
    batch to its offset-log and commit-log write times (epoch seconds),
    from the streaming checkpoint alone. Compacted source-log files
    repeat earlier entries; the mapping is by path, so they are harmless."""
    file_batch = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in sorted(os.listdir(src)) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]

    def times(d):
        out = {}
        d = os.path.join(ckpt, d)
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
        return out
    return file_batch, times("offsets"), times("commits")


# A write's target directory -> layer. Micro-batch jobs all carry the
# stream's start() call site, so a streaming job's layer comes from the
# path its SQL execution writes to.
WRITE_RULES = [
    (re.compile(r"/graft-artifacts/"), "artifacts"),
    (re.compile(r"/archive/?$"), "sinks.archive"),
    (re.compile(r"/timeseries/?$"), "sinks.timeseries"),
    (re.compile(r"/raw/?$"), "sinks.raw"),
    (re.compile(r"/dlq/?$"), "sinks.dlq"),
]

# Innermost graft frame of a job's call site -> layer. Spark's long call
# site lists the stack from the last Spark frame outwards, so the first
# `graft.` frame is the program code that launched the job.
LAYER_RULES = [
    (re.compile(r"^graft\.ops\.Artifacts\$"), "artifacts"),
    # a micro-batch job that writes no file (the stream's own bookkeeping)
    (re.compile(r"^graft\.streaming\.StreamingPipeline\$"), "stream"),
    (re.compile(r"^graft\.ops\.Thresholds\$"), "thresholds"),
    (re.compile(r"^graft\.ops\.Hrfco\$"), "hrfco"),
    (re.compile(r"^graft\.Tables\$"), "tables"),
    (re.compile(r"^graft\.SparkEntry\$"), "entry"),
    (re.compile(r"^graft\."), "ops"),
]


def layer_of(callsite, plan=None):
    """Layer of a job: the store its SQL execution writes to (`plan` is
    "write <path>" for a file write), else the program code that launched
    it, else 'harness' when only benchmark frames are on the stack (the
    final write of a query)."""
    if plan and plan.startswith("write "):
        for rx, layer in WRITE_RULES:
            if rx.search(plan[len("write "):]):
                return layer
    for frame in (callsite or "").split("\n"):
        frame = frame.strip()
        if frame.startswith("graft."):
            for rx, layer in LAYER_RULES:
                if rx.search(frame):
                    return layer
        if frame.startswith("perfbench."):
            return "harness"
    return "other"


def union_s(intervals):
    """Seconds covered by the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children]
    return (span["end"] - span["start"]) - union_s([c for c in clipped if c[1] > c[0]])
