"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry in Spark and its oracle_sql()
in DuckDB on the same sf dir, then compares row count, sorted column
names/values (order-insensitive).  Prints one line per query.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str:
    if len(a) != len(b):
        return f"ROWCOUNT {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"COLUMNS {sorted(a.columns)} vs {sorted(b.columns)}"
    na, nb = normalize(a.copy()), normalize(b.copy())
    for c in na.columns:
        ca, cb = na[c], nb[c]
        if ca.dtype.kind == "f" or cb.dtype.kind == "f":
            import numpy as np

            ca = ca.astype(float)
            cb = cb.astype(float)
            same = ((ca.isna() & cb.isna()) | (ca == cb)).all()
        else:
            same = ca.equals(cb)
        if not same:
            bad = (~((ca.isna() & cb.isna()) | (ca == cb))).idxmax() if len(ca) else 0
            return f"VALUES col={c} first_diff row {bad}: {na[c].iloc[bad]!r} vs {nb[c].iloc[bad]!r}"
    return "OK"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_ok = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {str(e)[:140]}")
            n_bad += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows={len(spark_df):6d} (rows-only, no oracle) {t_spark:5.1f}s")
            continue
        t0 = time.time()
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {str(e)[:140]}")
            n_bad += 1
            continue
        verdict = compare(spark_df, oracle_df)
        status = "OK " if verdict == "OK" else "FAIL"
        if verdict == "OK":
            n_ok += 1
        else:
            n_bad += 1
        print(
            f"{name:28s} {status} rows={len(spark_df):6d} spark={t_spark:5.1f}s duck={time.time()-t0:4.1f}s"
            + ("" if verdict == "OK" else f"  {verdict}")
        )
    print(f"\n{n_ok} OK, {n_bad} FAIL")
    spark.stop()


if __name__ == "__main__":
    main()
