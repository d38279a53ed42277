#!/usr/bin/env python3
"""Fold a clean full-census bench run into the committed per-query record.

Policy (unchanged since round 16): queries NEW this round enter at the
run's measured time; existing entries are lowered where the run beat the
prior minimum (records are historical clean minima, never raised). The
summary `value` is re-derived as the sum of the per-query entries, and
the record's note gains ` r<round>-<note-suffix>`.

Usage: python3 tools/update_record.py <round> <bench_run.json> <note-suffix>
"""
import json, sys

round_no, run_path, note_suffix = int(sys.argv[1]), sys.argv[2], sys.argv[3]
rec_path = "src/main/resources/graft/bench_record.json"

run = json.load(open(run_path))
rec = json.load(open(rec_path))
assert run.get("sf") == rec.get("sf"), (run.get("sf"), rec.get("sf"))
assert not run.get("filtered"), "filtered runs never enter the record"
assert run.get("failed") == [], run.get("failed")
assert run.get("flags_open") == [], run.get("flags_open")

q = rec["queries"]
entered, lowered = [], []
for name, t in run["queries"].items():
    if name not in q:
        q[name] = t
        entered.append(name)
    elif t < q[name]:
        q[name] = t
        lowered.append(name)

rec["value"] = sum(q.values())
rec["note"] = rec["note"] + f" r{round_no}-{note_suffix}"
json.dump(rec, open(rec_path, "w"), indent=None)
print(f"round {round_no}: entered {len(entered)}: {sorted(entered)}")
print(f"round {round_no}: lowered {len(lowered)}: {sorted(lowered)}")
print(f"new total: {rec['value']:.2f} over {len(q)} queries")
