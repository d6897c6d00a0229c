#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>

For each <name> dir in verifyOutDir, reads the Spark parquet, runs the
matching oracle_sql.json query in DuckDB over the sfDir tables, and
compares schema (column names), row count, and values (sorted columns,
sorted rows, exact equality). An oracle key with no output dir (its
query threw, and Verify deleted the dir) prints MISSING and fails.
"""
import sys, json, glob, os
import duckdb

sf, out = sys.argv[1], sys.argv[2]
oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda row: tuple((v is None, type(v).__name__, str(v)) for v in row)
    return sorted((tuple(r[i] for i in idx) for r in rows), key=key), sorted(cols)

fails = 0
for name in sorted(oracles):
    if not os.path.isdir(os.path.join(out, name)):
        print(f"{name}: MISSING (no output dir)")
        fails += 1
for d in sorted(glob.glob(os.path.join(out, "*"))):
    name = os.path.basename(d)
    if not os.path.isdir(d):
        continue
    sp = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
    scols = [c[0] for c in sp.description]
    srows = sp.fetchall()
    if name not in oracles:
        print(f"{name}: rows-only ({len(srows)} rows)")
        continue
    try:
        oq = con.execute(oracles[name])
        ocols = [c[0] for c in oq.description]
        orows = oq.fetchall()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    sr, sc = canon(srows, scols)
    orr, oc = canon(orows, ocols)
    if sc != oc:
        print(f"{name}: SCHEMA MISMATCH spark={sc} oracle={oc}")
        fails += 1
    elif len(sr) != len(orr):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(sr)} oracle={len(orr)}")
        fails += 1
    elif sr != orr:
        bad = next(i for i in range(len(sr)) if sr[i] != orr[i])
        print(f"{name}: VALUE MISMATCH at sorted-row {bad}:")
        print(f"  spark : {sr[bad]}")
        print(f"  oracle: {orr[bad]}")
        fails += 1
    else:
        print(f"{name}: OK ({len(sr)} rows)")
sys.exit(1 if fails else 0)
