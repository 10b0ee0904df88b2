#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run Verify first
(`sbt "runMain graft.Verify <sfDir> <outDir> [names]"`), then this script
replays each oracle SQL in DuckDB over the same parquet tables and compares
against the Spark dump the way the driver does — columns sorted by name,
row values hashed after a stable sort.

Usage: python3 tools/oracle_precheck.py <sfDir> <outDir> [name ...]

Each name is exact or a prefix ending in `*` (quote it from the shell):
    python3 tools/oracle_precheck.py sf out 'sim_topk_ivf*' 'text_bm25*'
Comma-separated lists are accepted too, as graft.Verify takes them.
"""
import json
import os
import sys

import duckdb
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def selects(entry: str, name: str) -> bool:
    """An entry ending in `*` is a name prefix; any other is the exact name."""
    return name.startswith(entry[:-1]) if entry.endswith("*") else name == entry


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = [e for a in sys.argv[3:] for e in a.split(",") if e] or None
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    bad = []
    for name, sql in sorted(oracle.items()):
        if only and not any(selects(e, name) for e in only):
            continue
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"{name}: NO SPARK DUMP")
            bad.append(name)
            continue
        import time
        t0 = time.time()
        try:
            ora = con.execute(sql).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            bad.append(name)
            continue
        got = pd.read_parquet(spark_path)
        rows_ok = len(ora) == len(got)
        schema_ok = sorted(ora.columns) == sorted(got.columns)
        hash_ok = False
        if rows_ok and schema_ok:
            a, b = norm(ora), norm(got)
            try:
                hash_ok = a.astype(str).equals(b.astype(str))
            except Exception:
                hash_ok = False
        status = "OK" if (rows_ok and schema_ok and hash_ok) else \
            f"FAIL rows={rows_ok}({len(ora)}/{len(got)}) schema={schema_ok} hash={hash_ok}"
        print(f"{name}: {status} ({time.time() - t0:.1f}s)", flush=True)
        if not (rows_ok and schema_ok and hash_ok):
            bad.append(name)
            if rows_ok and schema_ok:
                a, b = norm(ora), norm(got)
                diff = a.astype(str) != b.astype(str)
                idx = diff.any(axis=1)
                print("  oracle:", a[idx].head(3).to_dict("records"))
                print("  spark :", b[idx].head(3).to_dict("records"))
    print(f"\n{'ALL GREEN' if not bad else 'RED: ' + ','.join(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
