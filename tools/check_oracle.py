#!/usr/bin/env python3
"""Dev-only harness (NOT part of the shipped library): replicate the
driver's DuckDB-oracle correctness gate locally.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the raw
tables in <sfDir>, and compares row count, column names, and values
(sorted columns by name, sorted rows, stringified)."""
import sys, json, glob, os
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything (decimal/int64 vs int32 etc.)
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main(sfdir: str, outdir: str) -> int:
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))

    fails = 0
    for name in sorted(oracles):
        resdir = f"{outdir}/{name}"
        if not os.path.isdir(resdir):
            print(f"FAIL {name}: no spark result dir"); fails += 1; continue
        spark_df = pd.concat([pd.read_parquet(p) for p in glob.glob(f"{resdir}/*.parquet")], ignore_index=True)
        try:
            duck_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); fails += 1; continue
        a, b = norm(spark_df), norm(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: cols spark={list(a.columns)} duck={list(b.columns)}"); fails += 1; continue
        # strict dtype parity (a strict schema check on the dump would flag these)
        dt_bad = []
        for c in a.columns:
            x = str(spark_df[c].dtype).split("[")[0]
            y = str(duck_df[c].dtype).split("[")[0]
            if x != y:
                dt_bad.append(f"{c}: spark={x} duck={y}")
        if dt_bad:
            print(f"FAIL {name}: dtype mismatch {dt_bad}"); fails += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}"); fails += 1; continue
        if not a.equals(b):
            neq = (a != b)
            badcols = [c for c in a.columns if neq[c].any()]
            i = neq.any(axis=1).idxmax()
            print(f"FAIL {name}: value mismatch cols={badcols} first row {i}:")
            print("  spark:", a.iloc[i].to_dict())
            print("  duck :", b.iloc[i].to_dict())
            fails += 1; continue
        print(f"PASS {name} ({len(a)} rows)")
    print(f"\n{len(oracles) - fails}/{len(oracles)} pass")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
