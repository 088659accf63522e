#!/usr/bin/env python3
"""Dev-only harness (NOT part of the shipped library): compare two
`graft.Verify` output dirs key by key, for the keys that have no oracle
SQL (their rows derive from Spark-side hashing, so only a dump from
another build of graft can check them).

Usage: python3 tools/compare_dumps.py <dumpA> <dumpB> [key ...]

With no keys, compares every key dir present in either dump. Per key:
same column names, same dtypes, and the same rows after
check_oracle.py's `norm` (columns sorted by name, values stringified,
rows sorted). Exits 1 if any key differs or is missing on one side."""
import glob, os, sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import norm


def keys_in(d: str) -> set:
    return {os.path.basename(os.path.dirname(p)) for p in glob.glob(f"{d}/*/*.parquet")}


def load(d: str, key: str) -> pd.DataFrame:
    return pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{d}/{key}/*.parquet"))],
                     ignore_index=True)


def compare(a_dir: str, b_dir: str, key: str):
    """None if the key's dumps match, else why not."""
    if not glob.glob(f"{a_dir}/{key}/*.parquet") or not glob.glob(f"{b_dir}/{key}/*.parquet"):
        return "missing on one side"
    a, b = load(a_dir, key), load(b_dir, key)
    if sorted(a.columns) != sorted(b.columns):
        return f"cols {sorted(a.columns)} vs {sorted(b.columns)}"
    dt = [f"{c}: {a[c].dtype} vs {b[c].dtype}" for c in sorted(a.columns) if a[c].dtype != b[c].dtype]
    if dt:
        return f"dtypes {dt}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    na, nb = norm(a), norm(b)
    if not na.equals(nb):
        i = (na != nb).any(axis=1).idxmax()
        return f"value mismatch, first sorted row {i}: {na.iloc[i].to_dict()} vs {nb.iloc[i].to_dict()}"
    return None


def main(a_dir: str, b_dir: str, keys: list) -> int:
    keys = keys or sorted(keys_in(a_dir) | keys_in(b_dir))
    fails = 0
    for key in keys:
        why = compare(a_dir, b_dir, key)
        if why:
            print(f"DIFF {key}: {why}"); fails += 1
        else:
            print(f"SAME {key} ({len(load(a_dir, key))} rows)")
    print(f"\n{len(keys) - fails}/{len(keys)} same")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
