#!/usr/bin/env python3
"""Local dev mimic of the driver's correctness gate (NOT part of the
library): runs each oracle SQL in DuckDB against the fixture tables and
compares to the Spark parquet dumps written by graft.Verify.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

`connect` and `compare` are also what scripts/dialect_check.py checks
its generated queries with.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df

def connect(sf_dir):
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con

def compare(con, sql, pdir):
    """Compare DuckDB's answer to `sql` with the Spark parquet dump in
    `pdir`. Returns None on a match, else the reason, and the row count
    of the DuckDB answer (None when it has none)."""
    if not os.path.isdir(pdir):
        return "no spark output dir", None
    try:
        duck = con.sql(sql).df()
    except Exception as e:
        return f"duckdb error: {e}", None
    files = glob.glob(f"{pdir}/*.parquet")
    spark = pd.concat([pd.read_parquet(f) for f in files]) if files \
        else pd.DataFrame()
    d, s = norm(duck), norm(spark)
    if list(d.columns) != list(s.columns):
        return f"cols duck={list(d.columns)} spark={list(s.columns)}", len(d)
    if len(d) != len(s):
        return f"rows duck={len(d)} spark={len(s)}", len(d)
    # value compare as strings, DRIVER-STYLE: no canonicalization
    # beyond str(). The driver hashes stringified values, so a Spark
    # DECIMAL(38,6) ("0.280000") must NOT silently compare equal to
    # DuckDB's float64 client value ("0.28") here — collapsing
    # decimals through float() previously masked exactly the
    # mismatch the driver's hash gate rejects (28 rows in r6).
    def canon(v):
        return str(v)
    mism = []
    for c in d.columns:
        a = d[c].map(canon).tolist(); b = s[c].map(canon).tolist()
        if a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            mism.append((c, bad, a[bad], b[bad]))
    if mism:
        c, i, x, y = mism[0]
        return (f"value col={c} row={i} duck={x} spark={y} "
                f"(+{len(mism)-1} more cols)"), len(d)
    return None, len(d)

def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        why, rows = compare(con, oracle[name], f"{out_dir}/{name}")
        if why:
            print(f"FAIL {name}: {why}"); n_fail += 1
        else:
            print(f"PASS {name} ({rows} rows)"); n_pass += 1
    # queries with no oracle: rows-only
    for name in sorted(os.listdir(out_dir)):
        if name in oracle or not os.path.isdir(f"{out_dir}/{name}"):
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        n = sum(len(pd.read_parquet(f)) for f in files)
        print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'EMPTY!'}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
