#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet dumps
against the oracle SQL in DuckDB on the same testdata, compare row/schema/values.

A query Verify recorded in failures.json (name -> first line of its
exception) reports VERIFY_FAILED with that line, and counts as a failure
even when it has no oracle.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize NaN -> None, numpy scalars -> python
    def norm(v):
        if v is None:
            return None
        if isinstance(v, float) and math.isnan(v):
            return None
        return v
    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return rows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures_path = f"{out_dir}/failures.json"
    failures = json.load(open(failures_path)) if os.path.exists(failures_path) else {}
    results = {}
    for name in sorted(set(oracle) | set(failures)):
        if name in failures:
            results[name] = f"VERIFY_FAILED: {failures[name]}"
            continue
        sql = oracle[name]
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            if not files:
                results[name] = "MISSING_SPARK_OUTPUT"
                continue
            spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            ora_df = con.sql(sql).df()
            if sorted(spark_df.columns) != sorted(ora_df.columns):
                results[name] = f"SCHEMA_MISMATCH spark={sorted(spark_df.columns)} oracle={sorted(ora_df.columns)}"
                continue
            s, o = canon(spark_df), canon(ora_df)
            if len(s) != len(o):
                results[name] = f"ROWCOUNT_MISMATCH spark={len(s)} oracle={len(o)}"
            elif s == o:
                results[name] = f"OK ({len(s)} rows)"
            else:
                bad = [i for i, (a, b) in enumerate(zip(s, o)) if a != b][:3]
                detail = "; ".join(f"row{i}: spark={s[i]} oracle={o[i]}" for i in bad)
                results[name] = f"VALUE_MISMATCH {detail}"
        except Exception as e:
            results[name] = f"ERROR {type(e).__name__}: {e}"
    ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in results.items():
        print(("PASS " if v.startswith("OK") else "FAIL ") + k + ": " + v)
    print(f"\n{ok}/{len(results)} queries match")
    sys.exit(0 if ok == len(results) else 1)


if __name__ == "__main__":
    main()
