"""Local replica of the driver's correctness gate: run each queries() entry
in Spark and its oracle_sql() twin in DuckDB at a given sf, compare
row-count + column names + order-insensitive values. Each OK and
rows-only line ends with `sha=<12 hex>`, a digest of the canonicalized
Spark result, so two trees' outputs compare by diffing two runs.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """Short sha256 of a canonicalized frame's CSV form."""
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:12]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from dedupe_rust_spark.session import get_spark

    spark = get_spark(app="check_oracles", cpus=8)
    con = duck_con(sf_dir)
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in os_:
            print(f"rows-only {name}: {len(sdf)} rows, "
                  f"cols={sorted(sdf.columns)} sha={digest(canon(sdf))}")
            continue
        try:
            ddf = con.execute(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        a, b = canon(sdf), canon(ddf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=False, atol=1e-6)
            print(f"OK   {name}: {len(a)} rows sha={digest(a)}")
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n{str(e)[:400]}")
            failures += 1
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
