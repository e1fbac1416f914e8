#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_verify.py <sfDir> <outDir>
Reads <outDir>/oracle_sql.json (written by graft.Verify), runs each
oracle in DuckDB against views over <sfDir>/*.parquet, and compares with
the Spark result parquet in <outDir>/<name>/. Exact compare after
sorting columns by name and rows by value.
"""
import json
import sys
import glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failures += 1
            continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").df()
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {e}")
            failures += 1
            continue
        s, d = normalize(spark_df), normalize(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            failures += 1
            continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}")
            failures += 1
            continue
        dt_mismatch = [(c, str(s[c].dtype), str(d[c].dtype)) for c in s.columns
                       if str(s[c].dtype) != str(d[c].dtype)]
        if dt_mismatch:
            print(f"WARN {name}: dtype mismatch {dt_mismatch}")
        # exact compare, mirroring a hash check (nulls equal to nulls)
        so = s.astype(object).where(s.notna(), "\x00NULL")
        do = d.astype(object).where(d.notna(), "\x00NULL")
        neq = so != do
        bad = neq.any(axis=1)
        if bad.any():
            i = bad.idxmax()
            print(f"FAIL {name}: {int(bad.sum())}/{len(s)} rows differ; first at {i}:")
            print("  spark:", dict(s.iloc[i]))
            print("  duck :", dict(d.iloc[i]))
            failures += 1
        else:
            print(f"OK   {name}: {len(s)} rows")
    try:
        reasons = json.load(open(f"{out_dir}/no_oracle_reasons.json"))
    except Exception:  # noqa: BLE001
        reasons = {}
    extra = [q for q in glob.glob(f"{out_dir}/*/") if q.split("/")[-2] not in oracle]
    for q in sorted(extra):
        n = q.split("/")[-2]
        files = glob.glob(f"{q}*.parquet")
        rows = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        why = reasons.get(n, "no oracle")
        print(f"ROWS {n}: {rows} ({why})")
        if n not in reasons:
            print(f"WARN {n}: rows-only with no NoOracle reason in the query registry")
    print(f"{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
