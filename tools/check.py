#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify via sbt,
then replay every oracle SQL in DuckDB over the same sf dir and diff.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [only_query ...]
"""
import json, subprocess, sys, glob, os

import duckdb

# the checkout this script belongs to, wherever it is run from
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    outdir = args[1] if len(args) > 1 else "/tmp/verify"
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", f'runMain graft.Verify {sfdir} {outdir}'],
            cwd=ROOT, capture_output=True, text=True, timeout=3000)
        tail = (r.stdout + r.stderr)[-3000:]
        if r.returncode != 0:
            print("VERIFY FAILED:", tail); sys.exit(1)
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"[MISS] {name}: no spark output"); n_bad += 1; continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as ex:
            print(f"[ORACLE-ERR] {name}: {ex}"); n_bad += 1; continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        # driver semantics: sort columns by name, then compare values
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            print(f"[SCHEMA] {name}: oracle {list(exp.columns)} vs spark {list(got.columns)}")
            n_bad += 1; continue
        exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        if len(exp) != len(got):
            print(f"[ROWS] {name}: oracle {len(exp)} vs spark {len(got)}")
            n_bad += 1; continue
        try:
            eq = exp.equals(got)
            if not eq:
                diff = (exp != got) & ~(exp.isna() & got.isna())
                bad = diff.any(axis=1)
                print(f"[VALUES] {name}: {int(bad.sum())}/{len(exp)} rows differ; first:")
                print(exp[bad].head(3)); print(got[bad].head(3))
                n_bad += 1; continue
        except Exception as ex:
            print(f"[CMP-ERR] {name}: {ex}"); n_bad += 1; continue
        print(f"[OK] {name} ({len(exp)} rows)")
        n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
