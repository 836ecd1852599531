"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB at sf0.01; compare row count, column names, order-insensitive
values (columns sorted by name, rows sorted by all columns) AND pandas
dtypes. A query without a twin prints its ``rows_only`` reason from
``__spark_entry__.QUERIES``.

The dtype check is STRICT (VERDICT r5 #2): the driver's result hash is
dtype-sensitive, so an int64 Spark column against a DuckDB
HUGEINT-as-float64 column fails the driver even when every value is
bit-equal.  ``dtype_key`` is the documented normalization map — it
collapses only representation noise the driver's own r1-r5 green
records prove it tolerates (datetime64 resolution/timezone spelling),
and keeps every numeric width/kind distinction (int32 != int64 !=
float64).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from json_schema_spark.session import get_spark
from json_schema_spark.sources.tables import TPCH_TABLES


def dtype_key(dtype) -> str:
    """Normalize a pandas dtype to the key the strict comparison uses.

    Only two collapses, both justified by driver-green history:
    - datetime64 resolution/tz spelling (``datetime64[ns]`` vs
      ``datetime64[us]``): Spark's Arrow toPandas and DuckDB's fetchdf
      disagree on resolution for columns the driver has hashed green
      since r1 (events_window et al.), so resolution is representation
      noise, not value identity.
    - ``bool`` vs pandas ``boolean`` extension dtype: same value set.
    Everything else — crucially int32/int64/float64 — stays distinct.
    """
    s = str(dtype)
    if s.startswith("datetime64"):
        return "datetime64"
    if s in ("bool", "boolean"):
        return "bool"
    return s


def dtype_mismatches(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    out = []
    for c in sdf.columns:
        if c not in ddf.columns:
            continue
        a, b = dtype_key(sdf[c].dtype), dtype_key(ddf[c].dtype)
        if a != b:
            out.append(f"{c}: spark={a} duck={b}")
    return out


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].map(lambda x: round(float(x), 9) if pd.notna(x) else None)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype("boolean")
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rows_only = {q.name: q.rows_only for q in entrymod.QUERIES}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error {exc}")
            failures += 1
            continue
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows; {rows_only[name]}")
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error {exc}")
            failures += 1
            continue
        dt_bad = dtype_mismatches(sdf, ddf)
        if dt_bad:
            print(f"FAIL {name}: dtype mismatch {dt_bad}")
            failures += 1
            continue
        a, b = canon(sdf), canon(ddf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            failures += 1
            continue
        neq = (a != b) & ~(a.isna() & b.isna())
        bad = neq.any(axis=1)
        if bad.any():
            print(f"FAIL {name}: {bad.sum()} mismatched rows of {len(a)}")
            print("spark:", a[bad].head(3).to_dict("records"))
            print("duck :", b[bad].head(3).to_dict("records"))
            failures += 1
            continue
        print(f"OK   {name}: {len(a)} rows")
    print(f"\n{failures} failures / {len(only) if only else len(qs)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
