#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate (dev tool only —
the shipped library is Scala; this mimics the DuckDB oracle compare).

Usage: python3 tools/check_oracle.py [sfdir] [outdir]
Expects graft.Verify to have written <outdir>/<query>/ parquet dirs and
<outdir>/oracle_sql.json. An oracle query with no parquet output (no
directory, or an empty one left by a failed write) is reported MISSING
and counts as a failure.
"""
import sys, json, glob, math

import duckdb
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

dirs = {n.rstrip("/").split("/")[-1]: n for n in glob.glob(f"{out}/*/")}
fails = 0
for qname in sorted(set(dirs) | set(oracle)):
    name = dirs.get(qname)
    # a query that failed inside Verify leaves no parquet output
    if name is None or not glob.glob(f"{name}*.parquet"):
        print(f"{qname:32s} MISSING: no output")
        fails += 1
        continue
    mine = con.execute(f"SELECT * FROM read_parquet('{name}/*.parquet')").df()
    if qname not in oracle:
        print(f"{qname:32s} rows-only: {len(mine)} rows")
        if len(mine) == 0:
            print(f"  !! EMPTY result for rows-only query")
            fails += 1
        continue
    try:
        ref = con.execute(oracle[qname]).df()
    except Exception as e:
        print(f"{qname:32s} ORACLE SQL ERROR: {e}")
        fails += 1
        continue
    a, b = normalize(mine.copy()), normalize(ref.copy())
    status = []
    if list(a.columns) != list(b.columns):
        status.append(f"COLS {list(a.columns)} vs {list(b.columns)}")
    elif len(a) != len(b):
        status.append(f"ROWS {len(a)} vs {len(b)}")
    else:
        for c in a.columns:
            av, bv = a[c], b[c]
            try:
                if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                    bad = ~((av == bv) | (av.isna() & bv.isna()))
                    nexact = int(bad.sum())
                    if nexact:
                        close = all(abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))
                                    for x, y in zip(av[bad], bv[bad]))
                        status.append(f"col {c}: {nexact} not bit-equal"
                                      + (" (approx ok)" if close else " (DIVERGED)"))
                else:
                    bad = ~((av == bv) | (av.isna() & bv.isna()))
                    if bad.any():
                        i = bad.idxmax()
                        status.append(f"col {c}: {int(bad.sum())} diff e.g. {av[i]!r} vs {bv[i]!r}")
            except Exception as e:
                status.append(f"col {c}: compare error {e}")
        # dtype check (schema-level parity)
        for c in a.columns:
            if str(a[c].dtype) != str(b[c].dtype):
                status.append(f"dtype {c}: {a[c].dtype} vs {b[c].dtype}")
    if status:
        fails += 1
        print(f"{qname:32s} MISMATCH: " + "; ".join(status))
    else:
        print(f"{qname:32s} OK ({len(a)} rows)")

print(f"\n{'ALL OK' if fails == 0 else str(fails) + ' FAILURES'}")
sys.exit(1 if fails else 0)
