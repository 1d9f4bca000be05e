#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py [sfDir] [verifyOutDir] [name-filter]

Reads each SparkEntry query's parquet dump (written by graft.Verify)
and the corresponding oracle SQL from oracle_sql.json, runs the oracle
in DuckDB over the same source tables, sorts columns by name and rows
by all columns, and compares values exactly. Every name with an output
dir or an oracle counts: an oracle whose query left no output (it
threw; Verify deletes each output dir before running the query) is a
FAIL. Dev tool only — the shipped Scala library has no Python
dependency.
"""
import duckdb, json, sys, glob, os
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = sys.argv[3] if len(sys.argv) > 3 else None

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
declared = sorted({d for d in os.listdir(out) if os.path.isdir(f"{out}/{d}")}
                  | set(oracle))
fails = []

for name in declared:
    if only and only not in name:
        continue
    if name not in oracle:
        print(f"SKIP {name}: no oracle (rows-only check)")
        continue
    if not os.path.isdir(f"{out}/{name}"):
        print(f"FAIL {name}: no output (the query failed)")
        fails.append(name)
        continue
    try:
        sdf = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").fetchdf()
        odf = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails.append(name)
        continue
    sdf = sdf[sorted(sdf.columns)]
    odf = odf[sorted(odf.columns)]
    if list(sdf.columns) != list(odf.columns):
        print(f"FAIL {name}: cols spark={list(sdf.columns)} oracle={list(odf.columns)}")
        fails.append(name)
        continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
        fails.append(name)
        continue
    cols = list(sdf.columns)
    sdf = sdf.sort_values(by=cols).reset_index(drop=True)
    odf = odf.sort_values(by=cols).reset_index(drop=True)
    bad = []
    for c in cols:
        a, b = sdf[c], odf[c]
        eq = a.equals(b)
        if not eq:
            try:
                eq = a.astype(str).equals(b.astype(str))
            except Exception:
                eq = False
        if not eq:
            bad.append(c)
            mask = a.astype(str) != b.astype(str)
            ex = pd.DataFrame({"spark": a[mask], "oracle": b[mask]}).head(3)
            print(f"  {name}.{c}: {mask.sum()} diffs; dtypes {a.dtype}/{b.dtype}\n{ex}")
    if bad:
        print(f"FAIL {name}: cols {bad}")
        fails.append(name)
    else:
        print(f"PASS {name} ({len(sdf)} rows)")

checked = [d for d in declared if not only or only in d]
print(f"\n{len(checked) - len(fails)}/{len(checked)} pass")
sys.exit(1 if fails else 0)
