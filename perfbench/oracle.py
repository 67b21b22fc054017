"""Output check of a benchmark run, untimed.

Queries with oracle SQL are replayed in DuckDB over the same parquet
tables and compared the way tools/check_oracle.py compares them:
columns sorted by name, rows sorted, every value bit-equal (a float
within 1e-9 is still a mismatch, only reported as such), and dtypes
equal. Rows-only
queries (no oracle SQL) must give a non-empty result whose
order-independent digest is the same in both executions of the run.
"""
import hashlib
import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(mine, ref) -> list:
    a, b = _normalize(mine.copy()), _normalize(ref.copy())
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} vs {len(b)}"]
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        bad = ~((av == bv) | (av.isna() & bv.isna()))
        if bad.any() and (pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv)):
            close = all(abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))
                        for x, y in zip(av[bad], bv[bad]))
            problems.append(f"column {c}: {int(bad.sum())} not bit-equal"
                            + (" (within 1e-9)" if close else " (diverged)"))
        elif bad.any():
            i = bad.idxmax()
            problems.append(f"column {c}: {int(bad.sum())} differ, e.g. {av[i]!r} vs {bv[i]!r}")
        if str(av.dtype) != str(bv.dtype):
            problems.append(f"dtype {c}: {av.dtype} vs {bv.dtype}")
    return problems


def digest(con, path: Path):
    """(row count, sha256 over the sorted rows) of a parquet directory."""
    rows = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def check(data_dir: Path, out_dir: Path, rerun_dir: Path, queries: list,
          oracle_sql: dict, failed_to_run: dict) -> dict:
    """query -> problem string, or None when its output is correct."""
    con = duckdb.connect()
    for t in TABLES:
        f = data_dir / f"{t}.parquet"
        if f.is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    report = {}
    for q in queries:
        if q in failed_to_run:
            report[q] = f"threw: {failed_to_run[q]}"
            continue
        try:
            if q in oracle_sql:
                mine = con.execute(f"SELECT * FROM read_parquet('{out_dir / q}/*.parquet')").df()
                problems = _compare(mine, con.execute(oracle_sql[q]).df())
                report[q] = "; ".join(problems) or None
            else:
                first, second = digest(con, out_dir / q), digest(con, rerun_dir / q)
                if first[0] == 0:
                    report[q] = "empty result"
                elif first != second:
                    report[q] = f"digest differs between executions: {first} vs {second}"
                else:
                    report[q] = None
        except Exception as e:  # a broken output or oracle is a failed check
            report[q] = f"check error: {e}"
    con.close()
    return report
