#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against the DuckDB oracle SQL and compare row-for-row.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [q1,q2,...]

The optional third argument is the comma-separated query filter Verify
takes: only those queries are graded, and a filtered query with no Spark
output (or no oracle) still counts as bad.
"""
import json, sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = {n for n in sys.argv[3].split(",") if n} if len(sys.argv) > 3 else set()

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

errors = {}
err_path = os.path.join(out_dir, "errors.json")
if os.path.exists(err_path):
    with open(err_path) as f:
        errors = json.load(f)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)

n_ok = n_bad = 0
for name in sorted(only or oracles):
    if name not in oracles:
        print(f"UNKNOWN  {name}: no oracle SQL")
        n_bad += 1
        continue
    if name in errors:
        print(f"ERR      {name}: {errors[name]}")
        n_bad += 1
        continue
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        print(f"MISSING  {name}: no spark output")
        n_bad += 1
        continue
    got = con.execute(f"SELECT * FROM read_parquet({files!r})")
    got_cols = [d[0] for d in got.description]
    got_rows = got.fetchall()
    try:
        exp = con.execute(oracles[name])
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        n_bad += 1
        continue
    exp_cols = [d[0] for d in exp.description]
    exp_rows = exp.fetchall()
    if sorted(got_cols) != sorted(exp_cols):
        print(f"SCHEMA   {name}: spark={sorted(got_cols)} oracle={sorted(exp_cols)}")
        n_bad += 1
        continue
    g, e = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
    if g == e:
        print(f"OK       {name}: {len(g)} rows")
        n_ok += 1
    else:
        print(f"MISMATCH {name}: spark {len(g)} rows vs oracle {len(e)} rows")
        for i, (a, b) in enumerate(zip(g, e)):
            if a != b:
                print(f"  first diff row {i}:\n    spark : {a}\n    oracle: {b}")
                break
        n_bad += 1

print(f"\n{n_ok} ok, {n_bad} bad")
sys.exit(1 if n_bad else 0)
