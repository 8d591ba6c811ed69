#!/usr/bin/env python3
"""Type-width parity guard: the driver's correctness hash stringifies the
TYPED values, so an output that differs only in type width (BIGINT vs
HUGEINT, DECIMAL(28,2) vs DECIMAL(38,2)) hash-mismatches even when every
value is equal — this cost rounds 8 and 10. This script catches the drift
at author time: for each query in a graft.Verify output dir it compares
the DuckDB-visible column types of the Spark parquet against the oracle
SQL's DESCRIBE types.

Usage: python3 scripts/check_types.py <sfDir> <verifyOutDir> [q1,q2,...]
The optional query filter has Verify's comma-separated syntax (several
arguments are joined); a filtered query with no Spark output or no oracle
still counts as drifted. Exit 1 on any drift.
"""
import json, sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = {n for a in sys.argv[3:] for n in a.split(",") if n}

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def types_of(sql):
    # DESCRIBE yields the real DuckDB type names (BIGINT vs HUGEINT,
    # DECIMAL(p,s) widths) — the DBAPI .description generic codes coarsen
    # all numerics to NUMBER and would miss exactly the drift we hunt
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}

n_ok = n_bad = 0
for name in sorted(only or oracles):
    if name not in oracles:
        print(f"UNKNOWN  {name}: no oracle SQL")
        n_bad += 1
        continue
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        print(f"MISSING  {name}: no spark output")
        n_bad += 1
        continue
    got = types_of(f"SELECT * FROM read_parquet({files!r})")
    try:
        exp = types_of(f"SELECT * FROM ({oracles[name]})")
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        n_bad += 1
        continue
    if set(got) != set(exp):
        print(f"COLS     {name}: spark={sorted(got)} oracle={sorted(exp)}")
        n_bad += 1
        continue
    drift = {c: (got[c], exp[c]) for c in got if got[c] != exp[c]}
    if drift:
        print(f"TYPE     {name}: " + ", ".join(
            f"{c} spark={a} oracle={b}" for c, (a, b) in sorted(drift.items())))
        n_bad += 1
    else:
        n_ok += 1

print(f"\n{n_ok} type-clean, {n_bad} drifted")
sys.exit(1 if n_bad else 0)
