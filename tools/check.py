#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify at a given
sf dir, then run each oracle SQL in DuckDB over the same parquet tables and
compare values (columns sorted by name, rows sorted).

A third argument (comma-separated query names) is passed to Verify as
SPARK_GRAFT_ONLY: only those queries are built and compared, and an unknown
name fails the run. Every query Verify lists in failures.txt counts as a
failure. Before Verify runs, the query output dirs an earlier run left in
OUT are removed, so a query that throws before its write, or one no longer
in the catalog, cannot pass on stale parquet."""
import json, subprocess, sys, glob, os, re, shutil
import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ONLY = sys.argv[3].split(",") if len(sys.argv) > 3 else None
SKIP_VERIFY = os.environ.get("SKIP_VERIFY") == "1"

def wanted(name):
    return ONLY is None or name in ONLY

if not SKIP_VERIFY:
    for d in glob.glob(f"{OUT}/q*/"):  # Verify's per-query parquet dirs
        if re.fullmatch(r"q\d+_\w+", os.path.basename(d.rstrip("/"))):
            shutil.rmtree(d)
    for f in ("failures.txt", "oracle_sql.json"):
        if os.path.exists(f"{OUT}/{f}"):
            os.remove(f"{OUT}/{f}")
    env = None if ONLY is None else dict(os.environ, SPARK_GRAFT_ONLY=sys.argv[3])
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True, timeout=3600, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.stdout.write("\n".join(r.stdout.splitlines()[-5:]) + "\n")
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

con = duckdb.connect()
for p in glob.glob(f"{SF}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

fails = []
# "[verify] <name> failed: <class> <msg>", one line per query that threw
if os.path.exists(f"{OUT}/failures.txt"):
    for line in open(f"{OUT}/failures.txt"):
        if line.strip():
            print(line.rstrip())
            fails.append(line.split()[1])

for name in sorted(oracle):
    if not wanted(name) or name in fails:
        continue
    sql = oracle[name]
    spark_dir = f"{OUT}/{name}"
    if not glob.glob(f"{spark_dir}/*.parquet"):
        print(f"{name}: NO SPARK OUTPUT"); fails.append(name); continue
    try:
        got = canon(con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df())
        exp = canon(con.sql(sql).df())
    except Exception as e:
        print(f"{name}: ORACLE ERROR {str(e)[:200]}"); fails.append(name); continue
    if list(got.columns) != list(exp.columns):
        print(f"{name}: COLS spark={list(got.columns)} oracle={list(exp.columns)}")
        fails.append(name); continue
    if len(got) != len(exp):
        print(f"{name}: ROWS spark={len(got)} oracle={len(exp)}")
        fails.append(name); continue
    eq = got.equals(exp)
    if not eq:
        # locate first differing cell
        diffs = []
        for c in got.columns:
            a, b = got[c], exp[c]
            neq = ~(a.eq(b) | (a.isna() & b.isna()))
            if neq.any():
                i = neq.idxmax()
                diffs.append(f"col={c} row={i} spark={a[i]!r} oracle={b[i]!r}")
                if len(diffs) >= 3: break
        print(f"{name}: VALUE MISMATCH " + "; ".join(diffs))
        fails.append(name)
    else:
        print(f"{name}: OK rows={len(got)}")

# rows-only checks for oracle-less queries
for d in sorted(glob.glob(f"{OUT}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name in oracle or not wanted(name) or name in fails: continue
    try:
        n = con.sql(f"SELECT COUNT(*) FROM '{d}/*.parquet'").fetchone()[0]
        print(f"{name}: rows-only rows={n}" + (" (EMPTY!)" if n == 0 else ""))
        if n == 0: fails.append(name)
    except Exception as e:
        print(f"{name}: READ ERROR {e}"); fails.append(name)

print(f"\n{'ALL OK' if not fails else 'FAILURES: ' + ', '.join(fails)}")
sys.exit(1 if fails else 0)
