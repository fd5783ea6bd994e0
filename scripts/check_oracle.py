"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] on Spark and the matching
oracle_sql()[name] on DuckDB over the same parquet views, then
compares row count, column names, and bit-exact sorted values.

Usage: python scripts/check_oracle.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

# the checkout this script lives in, not an installed or fixed copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def value_repr(df: pd.DataFrame) -> list:
    out = []
    for c in df.columns:
        col = df[c]
        if np.issubdtype(col.dtype, np.floating):
            out.append([struct.pack("<d", float(v)).hex() for v in col])
        else:
            out.append(col.tolist())
    return out


def main():
    sf_dir = "/root/testdata/sf0.01"
    args = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a == "--sf":
            i += 1
            if i >= len(argv):
                sys.exit("--sf requires a directory argument")
            sf_dir = argv[i]
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a!r}")
        else:
            args.append(a)
        i += 1

    import __spark_entry__ as entrymod
    from geokit_spark.session import get_spark

    spark = get_spark("check_oracle", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; available: {sorted(qs)}")
    failures = 0
    for name in names:
        sdf = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf):7d}  (rows-only check: no oracle)")
            continue
        odf = con.execute(oracles[name]).df()
        s, o = canon(sdf), canon(odf)
        ok_rows = len(s) == len(o)
        ok_cols = list(s.columns) == list(o.columns)
        ok_vals = ok_rows and ok_cols and value_repr(s) == value_repr(o)
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(
            f"{name:28s} {status} rows={len(s)}/{len(o)} cols={ok_cols} vals={ok_vals}"
        )
        if status == "FAIL":
            failures += 1
            if not ok_cols:
                print("  spark cols:", list(s.columns), " oracle cols:", list(o.columns))
            if ok_rows and ok_cols and not ok_vals:
                neq = (s != o).any(axis=1)
                print("  first diffs:")
                print(pd.concat([s[neq].head(3), o[neq].head(3)], axis=1))
            elif not ok_rows:
                print(f"  row counts differ: spark={len(s)} oracle={len(o)}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
