#!/usr/bin/env python3
"""Local self-check harness mimicking the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir]
  1. expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have run
  2. loads outdir/oracle_sql.json, runs each SQL in DuckDB over the
     sf tables, compares against outdir/<name>/ parquet (sorted rows,
     columns sorted by name). An oracle entry with no output directory
     (a gate that threw before writing) is a [MISS] and counts as an error.

NOT part of the library — developer tooling only.
"""
import json, sys, glob, math
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

with open(f"{outdir}/oracle_sql.json") as f:
    oracles = json.load(f)

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)

def normdf(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(norm(v) for v in r) for r in df.itertuples(index=False)]
    return cols, sorted(rows)

n_ok = n_bad = n_err = 0
for name in sorted(oracles):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"  [MISS] {name}: no parquet output")
        n_err += 1
        continue
    got = con.execute(
        f"SELECT * FROM read_parquet({files!r})").df()
    try:
        exp = con.execute(oracles[name]).df()
    except Exception as e:
        print(f"  [ORACLE-ERR] {name}: {e}")
        n_err += 1
        continue
    gc, gr = normdf(got)
    ec, er = normdf(exp)
    if gc != ec:
        print(f"  [SCHEMA] {name}: spark={gc} duckdb={ec}")
        n_bad += 1
    elif gr != er:
        n_bad += 1
        diffs = [(a, b) for a, b in zip(gr, er) if a != b]
        print(f"  [VALUES] {name}: {len(got)} vs {len(exp)} rows, "
              f"{len(diffs)} differing (first: {diffs[0] if diffs else (gr[:1], er[:1])})")
    else:
        n_ok += 1
        print(f"  [ok] {name}: {len(got)} rows")

print(f"\n{n_ok} ok, {n_bad} mismatch, {n_err} errors")
sys.exit(1 if (n_bad or n_err) else 0)
