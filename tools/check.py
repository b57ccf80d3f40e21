"""Local replica of the driver's t2 differential check.

Runs every registered query on Spark and its oracle on DuckDB at the
given SF dir, compares row count, column names, and values. Reports
three grades per query:

  EXACT   — sorted string rendering identical (survives any hash)
  CLOSE   — equal within 1e-9 relative on floats (hash-fragile!)
  FAIL    — row count / schema / value mismatch

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sparkflow
from sparkflow.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical dtypes
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif s.dtype == object:
            df[c] = s.apply(
                lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    if len(sdf) != len(odf):
        return f"FAIL rows spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"FAIL cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    s, o = normalize(sdf.copy()), normalize(odf.copy())
    if s.astype(str).equals(o.astype(str)):
        return "EXACT"
    # tolerance pass
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]):
            a, b = s[c].to_numpy(), o[c].to_numpy()
            if not np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True):
                bad = np.where(~np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True))[0][:3]
                return f"FAIL float col={c} e.g. {[(a[i], b[i]) for i in bad]}"
        else:
            if not s[c].astype(str).equals(o[c].astype(str)):
                diff = s[c].astype(str) != o[c].astype(str)
                i = int(np.argmax(diff.to_numpy()))
                return f"FAIL col={c} row{i}: spark={s[c][i]!r} oracle={o[c][i]!r}"
    return "CLOSE"


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or sorted(sparkflow.QUERIES)

    spark = get_spark("check")
    con = duckdb.connect()
    for t in sparkflow.catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_exact = n_close = n_fail = n_rows_only = 0
    for name in names:
        fn = sparkflow.QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            traceback.print_exc()
            print(f"{name:28s} FAIL spark-error")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        sql = sparkflow.ORACLES.get(name)
        if sql is None:
            print(f"{name:28s} rows-only ({len(sdf)} rows, {t_spark:.2f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"{name:28s} FAIL oracle-error: {e}")
            n_fail += 1
            continue
        verdict = compare(sdf, odf)
        tag = verdict.split()[0]
        if tag == "EXACT":
            n_exact += 1
        elif tag == "CLOSE":
            n_close += 1
        else:
            n_fail += 1
        print(f"{name:28s} {verdict}  ({len(sdf)} rows, {t_spark:.2f}s)")
    print(f"\nexact={n_exact} close={n_close} rows_only={n_rows_only} FAIL={n_fail}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
