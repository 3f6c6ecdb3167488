"""Strict check of queries against their DuckDB oracles: sort rows by all
columns (pandas lexsort, as a row-sorting result checker does), then
require exact cell equality — no str-casting, no float coercion.
Floats must be bit-equal (or both NaN); ints/bools/strings exact.

Usage: python scripts/strict_window_check.py [sf_dir] [query ...]
Without query names it checks the 50 in-window queries (the first 50 of
``__spark_entry__.queries()``).  Spark runs local[$SPARK_GRAFT_CPUS]
(default: the host's cores)."""
import os
import sys
import numpy as np
import pandas as pd
import duckdb
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from universal_key_value_based_text_processing_with_ocr_spark.plans.session import build_spark
spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
spark.sparkContext.setLogLevel("ERROR")
from universal_key_value_based_text_processing_with_ocr_spark.ship import ship_package
ship_package(spark)

import __spark_entry__ as e
qs = e.queries()
osql = e.oracle_sql()
window = sys.argv[2:] or list(qs)[:50]

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents".split():
    p = Path(SF) / f"{t}.parquet"
    if p.exists():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = 0
for name in window:
    try:
        a = qs[name](spark, SF).toPandas()
        b = con.execute(osql[name]).df()
        if len(a) != len(b):
            print(f"{name:32s} ROWS {len(a)} vs {len(b)}"); fails += 1; continue
        if sorted(a.columns) != sorted(b.columns):
            print(f"{name:32s} COLS"); fails += 1; continue
        ca, cb = canon(a), canon(b)
        bad = None
        for c in ca.columns:
            va, vb = ca[c].to_numpy(), cb[c].to_numpy()
            if va.dtype.kind == "f" or vb.dtype.kind == "f":
                va = va.astype(np.float64); vb = vb.astype(np.float64)
                eq = (va == vb) | (np.isnan(va) & np.isnan(vb))
            else:
                sa, sb = pd.Series(va), pd.Series(vb)
                eq = (sa.values == sb.values) | (sa.isna().values & sb.isna().values)
            if not np.all(eq):
                i = int(np.argmax(~eq))
                bad = f"col={c} row{i}: {ca[c].iloc[i]!r} ({type(ca[c].iloc[i]).__name__}) vs {cb[c].iloc[i]!r} ({type(cb[c].iloc[i]).__name__})"
                break
        if bad:
            print(f"{name:32s} STRICT-DIFF {bad}"); fails += 1
        else:
            print(f"{name:32s} STRICT-OK rows={len(a)}")
    except Exception as ex:
        print(f"{name:32s} ERR {type(ex).__name__}: {str(ex)[:100]}"); fails += 1
    sys.stdout.flush()
print(f"\n{len(window) - fails} STRICT-OK, {fails} FAIL")
spark.stop()
