#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_correctness.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares (columns sorted by name, rows sorted by all columns, exact equality;
reports max float deviation on mismatch). A column whose dtype differs from
the oracle's fails even when its values are equal. A query with an oracle but
no dump fails as "no spark output".
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for tbl in ["region","nation","customer","supplier","part","orders",
                "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_fail = 0
    # every oracle'd query must have a dump: Verify logs a failed query and
    # goes on, so walking only the dump directories would never count it
    dumped = {n for n in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dumped | set(oracles)):
        d = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        if name not in oracles:
            print(f"ROWS {name}: rows={len(got)} (no oracle)")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        g, w = norm(got.copy()), norm(want.copy())
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            n_fail += 1
            continue
        ok = True
        detail = []
        for c in g.columns:
            a, b = g[c].values, w[c].values
            if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(w[c].dtype, np.floating):
                a = a.astype(float); b = b.astype(float)
                both_nan = np.isnan(a) & np.isnan(b)
                eq = (a == b) | both_nan
                if not eq.all():
                    ok = False
                    diff = np.nanmax(np.abs(np.where(eq, 0, a - b)))
                    detail.append(f"col {c}: {np.sum(~eq)} diffs, max {diff:.3e}")
            else:
                if not (pd.Series(a).astype(str) == pd.Series(b).astype(str)).all():
                    ok = False
                    bad = np.where(pd.Series(a).astype(str) != pd.Series(b).astype(str))[0][:3]
                    detail.append(f"col {c}: e.g. idx {bad}: {a[bad]} vs {b[bad]}")
        # dtype check: a hash-compare over the result bytes is type-sensitive,
        # so equal values under another column type do not pass
        dts = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
               if str(g[c].dtype) != str(w[c].dtype)]
        if dts:
            ok = False
            detail.append(f"dtype mismatches: {dts}")
        if ok:
            print(f"OK   {name}: {len(g)} rows")
            n_ok += 1
        else:
            print(f"FAIL {name}: {'; '.join(detail)}")
            n_fail += 1
    print(f"\n{n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
