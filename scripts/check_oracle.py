#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: for each query in
the oracle_sql.json written by graft.Verify, run its DuckDB oracle SQL
on the raw testdata tables and compare with the query's output
(columns sorted by name, rows sorted, values hashed); a query with no
output fails. Usage: check_oracle.py SFDIR OUTDIR

compare_query/compare_frames are the SINGLE comparator implementation
— check_oracle_budget.py (the budgeted cross-SF sweep) imports them,
so a gate fix lands in both tools at once.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def connect(sfdir: str):
    # Driver testdata ships single-FILE parquet; ScaleFixture output
    # is Spark DIRECTORY-shaped parquet (<table>.parquet/part-*.parquet)
    # — glob the parts in that case so the same gate runs on scale
    # fixtures (the x10 sweep).
    import os
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def compare_frames(got: pd.DataFrame, exp: pd.DataFrame):
    """None if the frames would pass the driver's hash gate, else a
    short mismatch message (first failure class wins)."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"COLUMN-MISMATCH got={list(g.columns)} exp={list(e.columns)}"
    if len(g) != len(e):
        return f"ROWCOUNT-MISMATCH got={len(g)} exp={len(e)}"
    # dtype-kind gate first: the driver hashes canonical values, so
    # an int64 vs float64 drift (e.g. DuckDB HUGEINT materialized
    # as float) fails its hash even when values are numerically
    # equal. Integer *widths* (int32 vs int64) are canonicalized by
    # the driver (q_window rn passed r01), so compare kind only.
    dtype_mismatch = [(c, str(g[c].dtype), str(e[c].dtype))
                      for c in g.columns
                      if g[c].dtype.kind != e[c].dtype.kind]
    if dtype_mismatch:
        return f"DTYPE-MISMATCH {dtype_mismatch}"
    # value compare, exact for non-floats, tiny tolerance report for floats
    mismatch_cols = []
    for c in g.columns:
        gv, ev = g[c], e[c]
        try:
            if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
                import numpy as np
                if not np.allclose(gv.astype(float), ev.astype(float),
                                   rtol=0, atol=0, equal_nan=True):
                    # would the driver's exact hash fail?
                    close = np.allclose(gv.astype(float), ev.astype(float),
                                        rtol=1e-9, atol=1e-9, equal_nan=True)
                    mismatch_cols.append((c, "float-close" if close else "float-far"))
            else:
                if not gv.astype(str).equals(ev.astype(str)):
                    mismatch_cols.append((c, "exact"))
        except Exception as ex:
            mismatch_cols.append((c, f"cmp-error {ex}"))
    if mismatch_cols:
        lines = [f"VALUE-MISMATCH {mismatch_cols}"]
        for c, _ in mismatch_cols[:2]:
            diff = g[c].astype(str) != e[c].astype(str)
            idx = diff[diff].index[:3]
            for i in idx:
                lines.append(f"    row {i}: got={g[c][i]!r} exp={e[c][i]!r}")
        return "\n".join(lines)
    return None


def compare_query(con, outdir: str, name: str, sql):
    """(status, message): status 'OK' | 'ROWS-ONLY' | 'FAIL'. Never
    raises — a missing/corrupt output dir is one FAIL, not a sweep
    abort."""
    try:
        got = con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
    except Exception as e:
        return ("FAIL", f"OUTPUT-READ-ERROR {str(e)[:120]}")
    if sql is None:
        return ("ROWS-ONLY", f"rows={len(got)}"
                + ("  ⚠ EMPTY" if len(got) == 0 else ""))
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        return ("FAIL", f"ORACLE-SQL-ERROR {str(e)[:120]}")
    msg = compare_frames(got, exp)
    if msg is None:
        return ("OK", f"rows={len(got)}")
    return ("FAIL", msg)


def main(sfdir: str, outdir: str) -> int:
    con = connect(sfdir)
    with open(f"{outdir}/oracle_sql.json") as f:
        oracles = json.load(f)

    # Walk the queries Verify ran (it writes exactly those into
    # oracle_sql.json), not the output dirs: a query that threw leaves
    # no dir, and must fail here rather than go unchecked.
    failures = 0
    import os
    for name in sorted(oracles):
        if not os.path.isdir(os.path.join(outdir, name)):
            status, msg = "FAIL", "MISSING-OUTPUT (the query threw in Verify)"
        else:
            status, msg = compare_query(con, outdir, name, oracles[name])
        if status == "OK":
            print(f"{name:24s} OK {msg}")
        else:
            print(f"{name:24s} {msg}")
            failures += 1
    print(f"\n{'PASS' if failures == 0 else 'FAIL'} ({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
