#!/usr/bin/env python3
"""Full-surface big-SF correctness sweep: replay EVERY gate row at an
sf1-scale replica, with per-oracle time budgets and independent-replay
fallbacks for the oracles whose DuckDB formulation cannot finish at
scale (brute all-pairs / join-fan-out classes).

Protocol (the r9 lesson: the MinHash permutation-correlation bug was
invisible below sf1, so the whole surface — not just the heavy
families — gets the 10x replay):

  1. `graft.Verify <sfDir> <outDir>` runs every SparkEntry query at the
     replica and writes one parquet dir per row (unless --skip-spark).
  2. Each oracle SQL runs in its OWN subprocess against the replica
     tables with a wall-clock budget (--timeout, default 180 s). A row
     is PASS only on the same strict compare the gate uses (schema,
     row count, per-column values, int/float dtype-kind parity).
  3. Rows whose oracle is KNOWN not to finish at sf1 (documented in
     REHEARSAL_r09: brute O(N^2) pair scans, PQ join fan-out) are
     routed straight to their independent replay tool — NumPy/AllPairs
     re-derivations validated bit-exact against the DuckDB-proven gate
     outputs at small SF before use here. A row that times out WITHOUT
     a replay is reported as NEEDS-REPLAY (a gap to close, not a pass).

Usage:
  python3 tools/sf1_verify.py <sfDir> <outDir> [--skip-spark]
      [--timeout=N] [--only=a,b,c] [--artifact=PATH]

One command from a fresh checkout:
  python3 tools/sf1_verify.py /dev/shm/graft_sf1 /dev/shm/graft_verify_sf1
builds the replica via make_big_sf.py when <sfDir> is missing, runs
the full sweep, and (unless --only is given) writes the per-row
verdict to CORRECTNESS_sf1.json in the working directory — the same
shape as the driver's CORRECTNESS_r{N}.json, plus a "mode" field
(duck | replay) and an _env stamp, so the 10x scale signal is as
hard an artifact as the sf0.1 one.
Exit 0 iff every row is PASS (duck or replay).
"""
import json
import multiprocessing as mp
import os
import subprocess
import sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify_sf1"
TIMEOUT = 180
ONLY = set()
ARTIFACT = None
for a in sys.argv:
    if a.startswith("--timeout="):
        TIMEOUT = int(a[len("--timeout="):])
    if a.startswith("--only="):
        ONLY = set(a[len("--only="):].split(","))
    if a.startswith("--artifact="):
        ARTIFACT = a[len("--artifact="):]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
TOOLS = os.path.dirname(os.path.abspath(__file__))
# the checkout this script lives in, so a copy verifies its own code
REPO = os.path.dirname(TOOLS)

# oracle formulations documented as non-finishing at sf1 -> replay tool
# (REHEARSAL_r09: dedup_stats brute is 1.25e11 pair predicates; the PQ
# family's join fan-out is 60+ CPU-min; winnow's list-op CTE 80+ min)
REPLAY = {
    "dp_ann_pq": [sys.executable, f"{TOOLS}/pq_replay.py", SF, OUT, "dp_ann_pq"],
    "dp_ann_pq_rerank": [sys.executable, f"{TOOLS}/pq_replay.py", SF, OUT, "dp_ann_pq_rerank"],
    "dp_ann_ivfpq": [sys.executable, f"{TOOLS}/pq_replay.py", SF, OUT, "dp_ann_ivfpq"],
    "dp_dedup_substring_winnow": [
        sys.executable, f"{TOOLS}/winnow_replay.py", f"{SF}/documents.parquet",
        f"{OUT}/dp_dedup_substring_winnow", "24", "8", "50"],
    # the incremental variant's DuckDB winnowing exceeds 1800 s at sf1
    "dp_dedup_substring_incr": [
        sys.executable, f"{TOOLS}/winnow_replay.py", f"{SF}/documents.parquet",
        f"{OUT}/dp_dedup_substring_incr", "24", "8", "50", "--incr"],
}
# candidate-superset replays (tools/bigsf_replays.py): the oracle's own
# SQL re-runs with the brute O(N^2) join rewritten through an exactly-
# complete candidate table; validated PASS at sf0.01 against the
# DuckDB-proven gate outputs before use at scale
# dp_dedup_stats moved here from dedup_stats_replay.py (which
# replays the BRUTE closure histogram via exact AllPairs): the banded
# front end makes the brute histogram contract-wrong whenever banding
# misses a bridge pair, so the histogram verifies through the same
# band-contract pair injection as its closure siblings. The AllPairs
# tool remains as an independent brute cross-check for replicas where
# the band filter excludes nothing.
for _n in ("dp_dedup_minhash_lsh dp_dedup_clusters dp_dedup_soft "
           "dp_dedup_stats dp_split_leakage dp_dedup_incremental "
           "dp_dedup_ngram dp_curate dp_stream_neardedup "
           "dp_dedup_containment dp_dedup_simhash dp_embed_neardup "
           "dp_dedup_semantic").split():
    REPLAY[_n] = [sys.executable, f"{TOOLS}/bigsf_replays.py", SF, OUT, _n]


def compare_one(name, sql, q):
    """Worker: run one oracle in DuckDB and strict-compare (the same
    rules local_verify.py enforces) against the Verify parquet."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").fetchdf()
    except Exception as e:
        q.put(("FAIL", f"read spark out: {e}")); return
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        q.put(("FAIL", f"oracle sql error: {e}")); return
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        q.put(("FAIL", f"schema: spark={gcols} oracle={ecols}")); return
    got, exp = got[gcols].reset_index(drop=True), exp[ecols].reset_index(drop=True)
    if len(got) != len(exp):
        q.put(("FAIL", f"rows: spark={len(got)} oracle={len(exp)}")); return
    for c in gcols:
        gv, ev = got[c], exp[c]
        if (gv.dtype.kind in "iu" and ev.dtype.kind == "f") or \
           (gv.dtype.kind == "f" and ev.dtype.kind in "iu"):
            q.put(("FAIL", f"col {c}: dtype kind {gv.dtype} vs {ev.dtype}")); return
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            ok = all((a == b) or (pd.isna(a) and pd.isna(b))
                     for a, b in zip(gv, ev))
            if not ok:
                q.put(("FAIL", f"col {c}: float mismatch")); return
        elif not gv.equals(ev):
            bad = gv != ev
            i = bad[bad].index[0]
            q.put(("FAIL",
                   f"col {c} row {i}: spark={gv.iloc[i]} oracle={ev.iloc[i]}"))
            return
    q.put(("PASS", len(got)))


def run_with_budget(name, sql):
    q = mp.Queue()
    p = mp.Process(target=compare_one, args=(name, sql, q), daemon=True)
    p.start()
    p.join(TIMEOUT)
    if p.is_alive():
        p.terminate(); p.join()
        return ("TIMEOUT", f"oracle exceeded {TIMEOUT}s")
    return q.get() if not q.empty() else ("FAIL", "worker died")


def run_replay(name):
    cmd = REPLAY[name]
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=7200)
    except subprocess.TimeoutExpired:
        # a timed-out replay is a gap to close, not a sweep-killer
        return ("FAIL-replay", "replay exceeded 7200s")
    tail = (r.stdout + r.stderr)[-400:].replace("\n", " | ")
    return ("PASS-replay", tail) if r.returncode == 0 else ("FAIL-replay", tail)


if __name__ == "__main__":
    if not os.path.exists(f"{SF}/documents.parquet"):
        print(f"[sf1] replica missing at {SF} - building (make_big_sf.py 10)",
              flush=True)
        subprocess.run([sys.executable, f"{TOOLS}/make_big_sf.py", "10", SF],
                       check=True)
    if "--skip-spark" not in sys.argv:
        arg3 = f" {','.join(sorted(ONLY))}" if ONLY else ""
        r = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}{arg3}"],
            cwd=REPO, capture_output=True, text=True, timeout=7200)
        # Verify catches per-query Spark failures and prints [verify]
        # lines; surface them — a missing output dir fails the compare
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)
        if r.returncode != 0:
            print(r.stdout[-4000:]); print(r.stderr[-4000:])
            sys.exit(f"Verify failed rc={r.returncode}")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {}
    for name in sorted(oracle):
        if ONLY and name not in ONLY:
            continue
        if name in REPLAY:
            status, info = run_replay(name)
        else:
            status, info = run_with_budget(name, oracle[name])
            if status == "TIMEOUT" and name in REPLAY:
                status, info = run_replay(name)
        results[name] = (status, info)
        print(f"  {status:12s} {name}  {info if status != 'PASS' else f'({info} rows)'}",
              flush=True)

    n = lambda s: sum(1 for st, _ in results.values() if st == s)
    print(f"\n=== sf-big sweep: PASS {n('PASS')} + PASS-replay {n('PASS-replay')}"
          f" / FAIL {n('FAIL') + n('FAIL-replay')} / NEEDS-REPLAY {n('TIMEOUT')}"
          f" of {len(results)} ===")
    bad = [k for k, (st, _) in results.items() if st.startswith("FAIL") or st == "TIMEOUT"]
    if bad:
        print("unresolved:", ", ".join(bad))
    # artifact: driver-CORRECTNESS-shaped, one row per query, so the
    # scale sweep leaves the same class of hard evidence as the sf0.1
    # gate. Partial (--only) runs skip it unless --artifact is given —
    # a committed artifact must always describe the FULL surface.
    if ARTIFACT or not ONLY:
        import time
        art = {"_env": {
            "sf_dir": SF, "out_dir": OUT, "timeout_s": TIMEOUT,
            "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "only": sorted(ONLY) or None,
            "tool": "tools/sf1_verify.py"}}
        for k in sorted(results):
            st, info = results[k]
            art[k] = {
                "pass": st in ("PASS", "PASS-replay"),
                "mode": "replay" if st.endswith("-replay") or st == "TIMEOUT"
                        else "duck",
                "status": st,
                "rows": info if st == "PASS" else None,
                "err": None if st in ("PASS", "PASS-replay") else str(info)[:400],
            }
        path = ARTIFACT or "CORRECTNESS_sf1.json"
        with open(path, "w") as f:
            json.dump(art, f, indent=2)
        print(f"[sf1] artifact written: {path}")
    sys.exit(1 if bad else 0)
