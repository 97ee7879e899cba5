#!/usr/bin/env python3
"""Dev-only driver simulator: compare Verify.scala parquet dumps against
DuckDB oracle results on the same testdata. Mirrors the driver's compare
(sort columns by name, sort rows, compare values). Not part of the
shipped library."""
import json
import sys
import glob
import os

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{SF_DIR}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
# Optional third arg: comma-separated query subset (mirrors Verify's subset).
if len(sys.argv) > 3 and sys.argv[3].strip():
    subset = set(sys.argv[3].split(","))
    oracle = {k: v for k, v in oracle.items() if k in subset}

def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out

fails = 0
missing = 0  # oracle queries with no dump: outside a Verify subset, or crashed
for qname in sorted(oracle):
    res_dir = f"{OUT_DIR}/{qname}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {qname}: no result dir")
        fails += 1
        missing += 1
        continue
    try:
        got = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
        gcols = list(got.columns)
        gtypes = {c: str(t) for c, t in zip(got.columns, got.types)}
        grows = got.fetchall()
        want = con.sql(oracle[qname])
        wcols = list(want.columns)
        wtypes = {c: str(t) for c, t in zip(want.columns, want.types)}
        wrows = want.fetchall()
    except Exception as e:
        print(f"FAIL {qname}: {e}")
        fails += 1
        continue
    gc, gr = canon(gcols, grows)
    wc, wr = canon(wcols, wrows)
    # The driver's hash is TYPE-sensitive: an uncast SUM(BIGINT) in oracle
    # SQL is HUGEINT (int128) in DuckDB while Spark emits BIGINT — values
    # identical, hash mismatched (round-7 q52/q58/q60). Compare the DuckDB
    # LOGICAL types of both sides (DB-API `description` collapses all ints
    # to NUMBER and cannot see this) so that class fails here too.
    # Calibrated against CORRECTNESS_r07: nine queries with INTEGER-vs-
    # BIGINT columns hashed GREEN while the three HUGEINT ones failed —
    # the driver's pipeline collapses int widths ≤64 (and float widths)
    # into one class, but HUGEINT leaves it. Normalize the same way.
    def tclass(t):
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            return "INT<=64"
        if t in ("FLOAT", "DOUBLE"):
            return "FLOAT"
        return t
    tdiff = [(c, gtypes[c], wtypes[c]) for c in gc
             if tclass(gtypes[c]) != tclass(wtypes[c])]
    if gc != wc:
        print(f"FAIL {qname}: columns {gc} != {wc}")
        fails += 1
    elif tdiff:
        print(f"FAIL {qname}: column types differ (spark vs oracle): {tdiff}")
        fails += 1
    elif gr != wr:
        diff = [(a, b) for a, b in zip(gr, wr) if a != b]
        print(f"FAIL {qname}: rows {len(gr)} vs {len(wr)}; first diffs: {diff[:3]}")
        fails += 1
    else:
        print(f"OK   {qname} ({len(gr)} rows)")

# queries without oracle: rows-only check
for d in sorted(glob.glob(f"{OUT_DIR}/*/")):
    qname = os.path.basename(d.rstrip("/"))
    if qname in oracle:
        continue
    n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
    print(f"{'OK  ' if n > 0 else 'FAIL'} {qname} (rows-only: {n} rows)")
    if n == 0:
        fails += 1

print(f"\n{fails} failures")
if missing:
    print(f"{missing} of them: no result dir (checking a Verify subset? pass the "
          "same comma-separated query list as the third argument)")
sys.exit(1 if fails else 0)
