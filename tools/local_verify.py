#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify.scala's
parquet dumps + oracle_sql.json, run each oracle in DuckDB against the same
sf tables, and compare (row count, column names, sorted-row values).

DuckDB 1.0 inlines every reference to a CTE, so an oracle whose CTEs read
earlier ones several times (the prefix-doubling chain of dedup_substring)
plans exponentially many copies and runs out of memory. Such an oracle is
re-run once with every CTE marked MATERIALIZED, which computes each CTE once
and returns the same rows; a line before its PASS/FAIL line says so.

Usage: python3 tools/local_verify.py <sfDir> <outDir> [query ...]
"""
import sys, json, glob, os, re
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
# bounded, so an oracle that would plan too many CTE copies fails fast into
# the materialized re-run instead of filling the host's memory
con.sql("SET memory_limit = '4GB'")
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
unknown = only - set(oracle)
if unknown:
    print(f"FATAL: unknown query name(s): {sorted(unknown)}")
    sys.exit(2)

# a CTE definition: `name AS (` right after WITH [RECURSIVE] or after the
# previous definition's `),`
CTE_DEF = re.compile(r"(\bWITH\s+(?:RECURSIVE\s+)?|\),\s*)(\w+)\s+AS\s*\(", re.I)


def materialized(sql):
    return CTE_DEF.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


fail = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pq = f"{outdir}/{name}"
    if not os.path.isdir(pq):
        print(f"FAIL {name}: no spark output dir"); fail += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: engine-output read error: {e}"); fail += 1; continue
    try:
        rel = con.sql(sql)
        # HUGEINT/DECIMAL output columns render engine-dependently (the
        # driver's duckdb/pandas may stringify them as floats or Decimals
        # while Spark writes int64) — the root cause of the r9/r10 hash
        # fails. Gate on the NATIVE relation type, before .df() masks it.
        wide = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                if str(t) in ("HUGEINT", "UHUGEINT")
                or str(t).startswith("DECIMAL")]
        if wide:
            print(f"FAIL {name}: oracle output not driver-portable "
                  f"(CAST to BIGINT/DOUBLE): {wide}")
            fail += 1; continue
        try:
            want = rel.df()
        except duckdb.OutOfMemoryException:
            print(f"  {name}: DuckDB ran out of memory; "
                  "re-running the oracle with materialized CTEs")
            want = con.sql(materialized(sql)).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); fail += 1; continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"FAIL {name}: columns {gc} vs {wc}"); fail += 1; continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); fail += 1; continue
    g = got[gc].copy(); w = want[wc].copy()
    # normalize: timestamps → str, floats bit-compared
    for df in (g, w):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype(str)
    # dtype-KIND mismatch (int vs float vs object) survives the value
    # compare below (check_dtype=False) but not the driver's hash —
    # surface it as a failure in its own right
    kind_bad = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
                if g[c].dtype.kind != w[c].dtype.kind
                and {g[c].dtype.kind, w[c].dtype.kind} != {"i", "u"}]
    if kind_bad:
        print(f"FAIL {name}: dtype-kind mismatch engine-vs-oracle: {kind_bad}")
        fail += 1; continue
    g = g.sort_values(gc, kind="mergesort").reset_index(drop=True)
    w = w.sort_values(wc, kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
        print(f"PASS {name} ({len(got)} rows)")
    except AssertionError as e:
        print(f"FAIL {name}: value mismatch: {str(e)[:500]}")
        # truthful first-diff: anti-join (independent sorts would misalign)
        try:
            m = g.merge(w, how="outer", indicator=True)
            lo = m[m["_merge"] == "left_only"]
            ro = m[m["_merge"] == "right_only"]
            if len(lo):
                print("  engine-only row:", lo.iloc[0].drop("_merge").to_dict())
            if len(ro):
                print("  oracle-only row:", ro.iloc[0].drop("_merge").to_dict())
        except Exception:
            pass  # unhashable column types: keep the assert message only
        fail += 1
print("ALL PASS" if fail == 0 else f"{fail} FAILURES")
sys.exit(1 if fail else 0)
