#!/usr/bin/env python3
"""Local correctness harness: mimic the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [--exact]
--exact: hex-level bit-exact value compare (the driver's hash gate is
exact, so atol-tolerant passes can still fail it — ULP drift, or
type/format mismatches like HUGEINT->float "1.0" vs "1").
Reads <out>/<name>/ parquet (Spark results) + <out>/oracle_sql.json,
runs each SQL in DuckDB with the sf tables registered as views, and
compares row counts, sorted-column-name value hashes, and cell values.
An oracle key with no result directory (the query threw) is a failure.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize temporal / decimal-ish types to strings for stable compare
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "date")):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def hexact(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(lambda v: float(v).hex() if pd.notna(v) else "nan")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

def main(out_dir, sf_dir, exact=False):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    # a query that threw in Verify writes no directory: it fails here,
    # rather than dropping out of the count
    for name in sorted(set(oracle) - results):
        print(f"[FAIL] {name}: no result"); n_fail += 1
    for name in sorted(results):
        path = os.path.join(out_dir, name)
        files = glob.glob(f"{path}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"[rows-only] {name}: {len(got)} rows {'OK' if len(got) > 0 else 'EMPTY!'}")
            continue
        exp = con.sql(oracle[name]).df()
        g, e = canon(got.copy()), canon(exp.copy())
        ok = True
        if list(g.columns) != list(e.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} != {list(e.columns)}"); ok = False
        elif len(g) != len(e):
            print(f"[FAIL] {name}: rows {len(g)} != {len(e)}"); ok = False
        elif exact:
            if not hexact(got.copy()).equals(hexact(exp.copy())):
                print(f"[FAIL] {name}: values differ at hex-bit level"); ok = False
        else:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            except AssertionError as ex:
                print(f"[FAIL] {name}: {str(ex)[:500]}"); ok = False
        if ok:
            n_pass += 1; print(f"[ok] {name}: {len(g)} rows")
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], exact="--exact" in sys.argv[3:])
