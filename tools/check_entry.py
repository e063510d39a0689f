"""Local replica of the driver's correctness gate: run every
queries() entry and its oracle_sql() side-by-side on sf0.01 and
compare row counts + order-insensitive values (column-name-sorted)."""

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from lucene_solr_8_7_0_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:] or None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64).round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), ignore_index=True)


def main():
    spark = get_spark(cores=8, shuffle_partitions=16, app_name="check_entry")
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        except Exception:
            pass
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"[ERR-SPARK] {name}")
            traceback.print_exc()
            failed.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception:
            print(f"[ERR-SQL] {name}")
            traceback.print_exc()
            failed.append(name)
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"[FAIL-schema] {name}: spark={list(g.columns)} duckdb={list(e.columns)}")
            failed.append(name)
            continue
        if len(g) != len(e):
            print(f"[FAIL-count] {name}: spark={len(g)} duckdb={len(e)}")
            failed.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False)
            print(f"[OK] {name}: {len(g)} rows")
        except AssertionError as ex:
            print(f"[FAIL-values] {name}: {str(ex)[:400]}")
            failed.append(name)
    # entry smoke
    if not ONLY:
        df = entrymod.entry(spark)
        pdf = df.toPandas()
        print(f"[entry] rows={len(pdf)} schema={[ (f.name, f.dataType.simpleString()) for f in df.schema.fields ]}")
    print("FAILED:", failed if failed else "none")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
