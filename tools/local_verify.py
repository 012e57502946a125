#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify
(via sbt) at a given SF, then execute each oracle_sql.json entry in
DuckDB over the same parquet tables and compare (schema, rows, values).

Usage: python3 tools/local_verify.py [sfDir] [outDir] [--skip-spark]
"""
import json, math, sys, subprocess, os
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
# --only=a,b,c : run/compare just those queries (fast local iteration)
ONLY = set()
for a in sys.argv:
    if a.startswith("--only="):
        ONLY = set(a[len("--only="):].split(","))
# the checkout this script lives in, so a copy verifies its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-spark" not in sys.argv:
    arg3 = f" {','.join(sorted(ONLY))}" if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{arg3}'],
        cwd=REPO, capture_output=True, text=True, timeout=1200)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:])
        sys.exit(f"Verify failed rc={r.returncode}")

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails, passes, skips = [], [], []
for name in sorted(oracle):
    if ONLY and name not in ONLY:
        skips.append(name); continue
    sql = oracle[name]
    pdir = f"{OUT}/{name}"
    if not os.path.isdir(pdir):
        fails.append((name, "no spark output dir")); continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
    except Exception as e:
        fails.append((name, f"read spark out: {e}")); continue
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}")); continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        fails.append((name, f"schema mismatch: spark={gcols} oracle={ecols}")); continue
    got, exp = got[gcols], exp[ecols]
    if len(got) != len(exp):
        fails.append((name, f"row count: spark={len(got)} oracle={len(exp)}")); continue
    # driver sorts columns by name then hashes values; emulate strict compare
    g = got.reset_index(drop=True)
    e = exp.reset_index(drop=True)
    mismatch = None
    for c in gcols:
        gv, ev = g[c], e[c]
        # The driver's hasher renders values per-dtype: an int64 Spark column
        # vs a float64 oracle column (e.g. DuckDB sum(BIGINT)->HUGEINT->float)
        # hash-mismatches even when numerically equal. Fail loudly here so
        # local green always implies driver green.
        if gv.dtype.kind in 'iu' and ev.dtype.kind == 'f' or \
           gv.dtype.kind == 'f' and ev.dtype.kind in 'iu':
            mismatch = (f"col {c}: dtype kind mismatch spark={gv.dtype} "
                        f"oracle={ev.dtype} (int vs float hashes differently "
                        f"driver-side; cast the oracle SQL)")
            break
        if gv.dtype.kind == 'f' or ev.dtype.kind == 'f':
            eq = [(a == b) or (pd.isna(a) and pd.isna(b)) or
                  (isinstance(a, float) and isinstance(b, float) and a == b)
                  for a, b in zip(gv, ev)]
            # report max diff for diagnostics even if equal
            diffs = [abs(a - b) for a, b in zip(gv, ev)
                     if not (pd.isna(a) or pd.isna(b))]
            md = max(diffs) if diffs else 0.0
            if not all(eq):
                mismatch = f"col {c}: float mismatch, maxdiff={md}"
                break
        else:
            if not gv.equals(ev):
                bad = (gv != ev)
                i = bad[bad].index[0] if bad.any() else "?"
                mismatch = f"col {c}: first diff at row {i}: spark={gv.iloc[i] if i != '?' else '?'} oracle={ev.iloc[i] if i != '?' else '?'}"
                break
    if mismatch:
        fails.append((name, mismatch))
    else:
        passes.append((name, len(got)))

print(f"\n=== PASS {len(passes)} / FAIL {len(fails)} ===")
for n, rows in passes:
    print(f"  PASS {n} ({rows} rows)")
for n, why in fails:
    print(f"  FAIL {n}: {why}")
sys.exit(1 if fails else 0)
