#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, compare to the Verify parquet dumps
(rows, schema-insensitive column-name-sorted value compare)."""
import sys, glob, json, os
import duckdb, pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    # Driver tables are single files; ScaleGen variants are directories
    # of part files — glob in that case so the scale campaign runs the
    # same differential gate.
    path = f"{sf_dir}/{t}.parquet"
    pat = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

# r22 (ADVICE high): Verify writes oracle_sql.json for ALL oracle entries
# even when invoked on a subset, so a subset run (the scale battery) used
# to yield dozens of 'NO SPARK OUTPUT' rows that the hard-fail logic
# counted as genuine failures and deterministically exited 1. When the
# caller names the subset it actually ran (GRAFT_ORACLE_SUBSET, space- or
# comma-separated), restrict the comparison to those entries; absent the
# env, the full-surface behavior is unchanged (a missing output is still
# a hard failure).
_subset = {t for t in os.environ.get("GRAFT_ORACLE_SUBSET", "")
           .replace(",", " ").split() if t}
if _subset:
    # A misspelled subset name must not silently shrink the gate.
    unknown = _subset - set(oracle)
    if unknown:
        print(f"ERROR: GRAFT_ORACLE_SUBSET names not in oracle_sql.json: "
              f"{sorted(unknown)}")
        sys.exit(1)
    oracle = {k: v for k, v in oracle.items() if k in _subset}

# Optional per-entry oracle time budget (seconds), 3rd argv. The scale
# campaign needs it: some oracles are deliberate brute-force
# re-derivations (all-pairs Jaccard, all-pairs cosine) that are exact at
# driver scale but intractable at x100+ — a timed-out oracle is reported
# as ORACLE TIMEOUT (a coverage statement), never a pass.
budget = float(sys.argv[3]) if len(sys.argv) > 3 else None

def run_oracle(sql):
    if budget is None:
        return con.execute(sql).df()
    import threading
    # Race guard (r18 advice): Timer can fire AFTER the query finishes
    # but BEFORE timer.cancel(), leaving an interrupt pending on the
    # shared connection that aborts the NEXT query as a spurious
    # timeout. Gate the interrupt on a still-running flag held under a
    # lock so a late-firing timer is a no-op.
    lock = threading.Lock()
    state = {"running": True}
    def maybe_interrupt():
        with lock:
            if state["running"]:
                con.interrupt()
    timer = threading.Timer(budget, maybe_interrupt)
    timer.start()
    try:
        df = con.execute(sql).df()
        with lock:
            state["running"] = False
        return df
    finally:
        with lock:
            state["running"] = False
        timer.cancel()

ok, bad = [], []
for name, sql in sorted(oracle.items()):
    pdir = f"{out_dir}/{name}"
    if not os.path.isdir(pdir):
        bad.append((name, "NO SPARK OUTPUT")); continue
    try:
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{pdir}/*.parquet"))])
    except Exception as e:
        bad.append((name, f"read spark parquet failed: {e}")); continue
    try:
        import time
        t0 = time.monotonic()
        try:
            duck_df = run_oracle(sql)
        except duckdb.InterruptException:
            # Belt to the flag's suspenders: if the interrupt arrived
            # well under budget it was a stale pending interrupt from a
            # prior query's timer, not this query timing out — retry
            # once before reporting a timeout.
            if budget is not None and time.monotonic() - t0 < 0.9 * budget:
                duck_df = run_oracle(sql)
            else:
                raise
    except duckdb.InterruptException:
        bad.append((name, f"ORACLE TIMEOUT (> {budget}s)")); continue
    except Exception as e:
        bad.append((name, f"DUCKDB ERROR: {e}")); continue
    # normalize: sort columns by name, sort rows, stringify values
    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            df[c] = df[c].map(lambda v: repr(sorted(v.tolist())) if hasattr(v, "tolist") and not isinstance(v, (int, float)) else v)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    s, d = norm(spark_df), norm(duck_df)
    if sorted(s.columns) != sorted(d.columns):
        bad.append((name, f"COLUMNS spark={sorted(s.columns)} duck={sorted(d.columns)}")); continue
    if len(s) != len(d):
        bad.append((name, f"ROWS spark={len(s)} duck={len(d)}")); continue
    # Dtype audit (r12 verdict): the DRIVER's compare hashes exact value
    # representations, so a Spark DecimalType column vs a DuckDB DOUBLE
    # twin hash-fails even when every value is numerically identical —
    # and the tolerance compare below would happily pass it. Spark mints
    # this silently via decimal-literal typing (`x / 100.0`, `rev * 7.0`
    # over integer inputs). Fail loudly on the representation mismatch.
    import decimal
    dtype_bad = None
    for c in s.columns:
        s_dec = s[c].dtype == object and s[c].map(
            lambda v: isinstance(v, decimal.Decimal)).any()
        d_float = str(d[c].dtype).startswith("float")
        d_dec = d[c].dtype == object and d[c].map(
            lambda v: isinstance(v, decimal.Decimal)).any()
        s_float = str(s[c].dtype).startswith("float")
        if (s_dec and d_float) or (d_dec and s_float):
            dtype_bad = (f"DTYPE col={c}: spark={'decimal' if s_dec else 'float'} "
                         f"vs duck={'decimal' if d_dec else 'float'} — driver hash "
                         f"will fail on representation; CAST the Spark side")
            break
    if dtype_bad:
        bad.append((name, dtype_bad)); continue
    try:
        mismatch = None
        for c in s.columns:
            sv, dv = s[c], d[c]
            if str(sv.dtype).startswith("float") or str(dv.dtype).startswith("float"):
                import numpy as np
                if not np.allclose(sv.astype(float), dv.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True):
                    diffs = (sv.astype(float) - dv.astype(float)).abs()
                    mismatch = f"VALUES col={c} maxdiff={diffs.max()}"
                    break
            else:
                if not (sv.astype(str) == dv.astype(str)).all():
                    i = (sv.astype(str) != dv.astype(str)).idxmax()
                    mismatch = f"VALUES col={c} row{i}: spark={sv[i]!r} duck={dv[i]!r}"
                    break
        if mismatch: bad.append((name, mismatch)); continue
    except Exception as e:
        bad.append((name, f"compare failed: {e}")); continue
    ok.append(name)

# queries without oracle: check rows>0 (only those in the subset, if any)
for pdir in sorted(glob.glob(f"{out_dir}/q_*")):
    name = os.path.basename(pdir)
    if name in oracle or not os.path.isdir(pdir): continue
    if _subset and name not in _subset: continue
    n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{pdir}/*.parquet"))
    (ok if n > 0 else bad).append((name + " [rows-only]", f"rows={n}") if n == 0 else name + " [rows-only]")

print(f"PASS {len(ok)}: {' '.join(x if isinstance(x,str) else x[0] for x in ok)}")
print(f"FAIL {len(bad)}:")
for name, why in bad:
    print(f"  {name}: {why}")
# r21 (ADVICE): the scale battery's by-design brute-force oracle twins
# guarantee a non-empty FAIL list at x100+, and the old `|| true` around
# this script swallowed GENUINE mismatches along with them. An explicit
# allowlist (GRAFT_EXPECTED_TIMEOUTS, comma-separated entry names) makes
# the distinction: a failure is tolerated only when it is an ORACLE
# TIMEOUT on an allowlisted entry; anything else still exits 1.
expected_to = {t for t in os.environ.get("GRAFT_EXPECTED_TIMEOUTS", "").split(",") if t}
hard_bad = [(n, w) for n, w in bad
            if not (w.startswith("ORACLE TIMEOUT") and n in expected_to)]
if bad and not hard_bad:
    print(f"all {len(bad)} failures are allowlisted ORACLE TIMEOUTs — exit 0")
sys.exit(1 if hard_bad else 0)
