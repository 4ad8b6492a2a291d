#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: compare Verify parquet
dumps against DuckDB oracle results (rows, schema-ish, value hash).

Round-11 gate-economics hardening (the r8/r10 empty-artifact lesson):
  * per-oracle wall time printed on every row (`[N.Ns]`);
  * a budget tripwire — a loud banner (and exit 3) if any single oracle
    exceeds ORACLE_BUDGET_S (default 30 s) or the sweep exceeds
    SWEEP_BUDGET_S (default 300 s), so a pathological oracle is caught
    the session it is authored, not when the driver's window blows;
  * incremental evidence — each verdict is appended (and flushed) to
    <out_dir>/check_results.jsonl as it completes, so a killed/timed-out
    run truncates instead of zeroing;
  * ONLY=<substr>[,substr...] env filter for selective re-checks.
"""
import duckdb, json, sys, glob, os, time, math
import pandas as pd
import pyarrow.parquet as pq

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
ORACLE_BUDGET_S = float(os.environ.get("ORACLE_BUDGET_S", "30"))
SWEEP_BUDGET_S = float(os.environ.get("SWEEP_BUDGET_S", "300"))
only = [s.strip() for s in os.environ.get("ONLY", "").split(",") if s.strip()]

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
if only:
    oracle = {k: v for k, v in oracle.items() if any(s in k for s in only)}
ok = fail = warn = 0
slow = []  # (name, seconds) over ORACLE_BUDGET_S
t_sweep = time.time()
results_path = os.path.join(out_dir, "check_results.jsonl")
results_f = open(results_path, "w")

def record(name, verdict, secs, detail=""):
    results_f.write(json.dumps({"query": name, "verdict": verdict,
                                "oracle_s": round(secs, 2), "detail": detail}) + "\n")
    results_f.flush()

for name in sorted(oracle):
    t0 = time.time()
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        print(f"MISSING  {name}: no parquet output"); fail += 1
        record(name, "missing", 0); continue
    try:
        spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        secs = time.time() - t0
        print(f"ERROR    {name}: {e} [{secs:.1f}s]"); fail += 1
        record(name, "error", secs, str(e)[:200]); continue
    secs = time.time() - t0
    if secs > ORACLE_BUDGET_S:
        slow.append((name, secs))
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        print(f"SCHEMA   {name}: spark={sc} duck={dc} [{secs:.1f}s]"); fail += 1
        record(name, "schema", secs, f"spark={sc} duck={dc}"); continue
    if len(spark_df) != len(duck_df):
        print(f"ROWS     {name}: spark={len(spark_df)} duck={len(duck_df)} [{secs:.1f}s]"); fail += 1
        record(name, "rows", secs, f"spark={len(spark_df)} duck={len(duck_df)}"); continue
    a, b = spark_df[sc], duck_df[sc]
    mismatch = None
    for c in sc:
        av, bv = list(a[c]), list(b[c])
        for i, (x, y) in enumerate(zip(av, bv)):
            eq = (x == y)
            try:
                if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y): eq = True
            except Exception: pass
            if x is None and y is None: eq = True
            try:
                if pd.isna(x) and pd.isna(y): eq = True
            except Exception: pass
            if not eq:
                mismatch = (c, i, x, y); break
        if mismatch: break
    if mismatch:
        c, i, x, y = mismatch
        print(f"VALUE    {name}: col={c} row={i} spark={x!r} duck={y!r} (types {type(x).__name__}/{type(y).__name__}) [{secs:.1f}s]")
        fail += 1
        record(name, "value", secs, f"col={c} row={i}")
        continue
    # strict: value types must match too — the driver hashes a canonical
    # serialization, so Decimal-vs-float or str-repr drift fails there even
    # when pandas == succeeds (round-1 lesson: 8 DECIMAL queries). Checked
    # over the WHOLE column (a column whose early values coincide in type
    # but drifts later — mixed object dtype — must not pass), and counted
    # as its own warning category with a distinct exit code, not a VALUE
    # failure (round-2 advisor).
    twarn = []
    for c in sc:
        at = {type(v).__name__ for v in a[c] if v is not None}
        bt = {type(v).__name__ for v in b[c] if v is not None}
        if at != bt:
            twarn.append((c, sorted(at), sorted(bt)))
    if twarn:
        print(f"TYPEWARN {name}: {twarn} (values equal, repr may hash-differ in driver) [{secs:.1f}s]")
        warn += 1
        record(name, "typewarn", secs, str(twarn)[:200])
    else:
        print(f"OK       {name} ({len(spark_df)} rows) [{secs:.1f}s]"); ok += 1
        record(name, "ok", secs)
results_f.close()
sweep_s = time.time() - t_sweep
print(f"\n{ok} ok, {fail} fail, {warn} typewarn in {sweep_s:.1f}s; rows-only (no oracle): ", end="")
all_q = {os.path.basename(p) for p in glob.glob(os.path.join(out_dir,'*'))
         if os.path.isdir(p) and not os.path.basename(p).startswith('_aux')}
print(sorted(all_q - set(oracle)))
budget_blown = False
if slow:
    budget_blown = True
    print("!" * 72)
    print(f"!! ORACLE BUDGET TRIPWIRE: {len(slow)} oracle(s) over {ORACLE_BUDGET_S:.0f}s "
          f"— these endanger the driver's gate window for EVERY query:")
    for n, s in sorted(slow, key=lambda x: -x[1]):
        print(f"!!   {n}: {s:.1f}s")
    print("!" * 72)
if not only and sweep_s > SWEEP_BUDGET_S:
    budget_blown = True
    print("!" * 72)
    print(f"!! SWEEP BUDGET TRIPWIRE: full compare took {sweep_s:.1f}s > {SWEEP_BUDGET_S:.0f}s "
          f"— trim the heaviest oracles before the driver gate blows.")
    print("!" * 72)
sys.exit(1 if fail else (3 if budget_blown else (2 if warn else 0)))
