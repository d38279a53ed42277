#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs in two checkouts.

    python3 tools/ab_pairs.py PARENT CHANGE --workload hrfco_stream --seeds 301-310

For each seed it runs

    python3 perfbench/run.py --workload W --seed S --seconds 30 --trace 0

once in each checkout (the PARENT directory, then the CHANGE directory, or
the other way round: the side that goes first alternates from seed to seed).
It reads only the last line of each run's standard output, perfbench's
result object, and prints each run's `correct` and `failed`, then, per
end-to-end metric, both sides' medians and quartiles and the number of
pairs the change won (ties count for neither side). A metric's direction
comes from the `end_to_end` list of PARENT's BENCHMARK.json.

A claimed gain holds when the change wins at least nine tenths of the pairs
and the medians differ by more than the parent's interquartile distance;
the "gain" column says whether that holds. The "bound" column says whether
the change stays within the metric's `bound` from the same list: "no" when
its median is worse than the parent's by more than that fraction of the
parent's median, "unresolved" when the parent's own interquartile distance
is wider than that fraction and not every change run beats every parent
run, and "yes" otherwise (`within_bound`). The script writes nothing into
either checkout itself; perfbench keeps its own build and output
directories in the checkout it runs in.

Each run gets its own process group; a run that outlasts RUN_TIMEOUT is
killed with its whole group (perfbench's JVM too) and counts as a failed
run, so the comparison goes on and still prints its summary.
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

SECONDS = 30          # the run length BENCHMARK.json's workloads use
RUN_TIMEOUT = 1200    # seconds one perfbench run may take, build included


def seeds(spec):
    """'301-310' or '301,305,309' as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def failed(error):
    return {"correct": False, "failed": None, "attempted": None, "metrics": {},
            "error": error}


def run(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return failed(f"timed out after {RUN_TIMEOUT} s")
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return failed(f"exit {proc.returncode}, no result line")


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def within_bound(parent, change, better, bound):
    """'yes', 'no' or 'unresolved': whether the change's runs of one metric
    stay within `bound` (a fraction of the parent's median) of the parent's
    runs, where `better` is 'lower' or 'higher'."""
    sign = -1 if better == "lower" else 1
    pq, cq = quartiles(parent), quartiles(change)
    limit = bound * abs(pq[1])
    if sign * (cq[1] - pq[1]) < -limit:
        return "no"
    if pq[2] - pq[0] > limit and not all(sign * (c - p) > 0 for c in change for p in parent):
        return "unresolved"
    return "yes"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 301,303")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["unit"], m["better"], m["bound"])
                   for m in json.load(f)["end_to_end"]]

    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], args.workload, seed)
            results[side].append(r)
            values = " ".join(f"{n}={r.get('metrics', {}).get(n, {}).get('value', float('nan')):.4g}"
                              for n, _, _, _ in metrics)
            print(f"seed {seed} {side:6} correct={r.get('correct')} failed={r.get('failed')} "
                  f"attempted={r.get('attempted')} {values}"
                  + (f" error={r['error']}" if "error" in r else ""), flush=True)

    pairs = len(results["parent"])
    print(f"\n{args.workload}: {pairs} pairs, medians [Q1-Q3]")
    print(f"{'metric':16} {'unit':7} {'parent':>28} {'change':>28} {'wins':>6}  gain  bound")
    for name, unit, better, bound in metrics:
        def values(side):
            return [r["metrics"][name]["value"] for r in results[side]
                    if name in r.get("metrics", {})]
        p, c = values("parent"), values("change")
        if not p or not c:
            print(f"{name:16} {unit:7} missing")
            continue
        sign = -1 if better == "lower" else 1
        wins = sum(1 for rp, rc in zip(results["parent"], results["change"])
                   if name in rp.get("metrics", {}) and name in rc.get("metrics", {})
                   and sign * (rc["metrics"][name]["value"] - rp["metrics"][name]["value"]) > 0)
        pq, cq = quartiles(p), quartiles(c)
        gain = wins * 10 >= 9 * pairs and sign * (cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{name:16} {unit:7} {pq[1]:10.4g} [{pq[0]:.4g}-{pq[2]:.4g}] "
              f"{cq[1]:10.4g} [{cq[0]:.4g}-{cq[2]:.4g}] {wins:>3}/{pairs}  "
              f"{'yes' if gain else 'no':5} {within_bound(p, c, better, bound)}")
    bad = [r for side in results.values() for r in side
           if not r.get("correct") or r.get("failed") != 0]
    print(f"runs not correct or with failures: {len(bad)}")


if __name__ == "__main__":
    main()
