"""Local emulation of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB at the same sf, compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

# the checkout this file lives in, so an A/B copy checks its own library:
# sys.path for the driver, PYTHONPATH for the Python UDF workers (read when
# the SparkContext starts)
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from europa_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for x, y in zip(av, bv):
            if isinstance(x, float) or isinstance(y, float):
                if not (
                    (isinstance(x, float) and isinstance(y, float))
                    and (x == y or (math.isnan(x) and math.isnan(y)))
                ):
                    if float(x) != float(y):
                        return False
            elif x != y:
                return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(app_name="oracle-check", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in os_:
            print(f"[rows-only] {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}")
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb error: {e}")
            failures.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        ok_cols = list(a.columns) == list(b.columns)
        ok_rows = len(a) == len(b)
        ok_vals = ok_cols and ok_rows and values_equal(a, b)
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        print(
            f"[{status}] {name}: rows {len(a)}/{len(b)} cols_match={ok_cols} "
            f"values_match={ok_vals}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print("   spark cols:", list(a.columns))
                print("   duck  cols:", list(b.columns))
            elif ok_rows:
                for c in a.columns:
                    neq = [
                        (i, a[c][i], b[c][i])
                        for i in range(len(a))
                        if not _cell_eq(a[c][i], b[c][i])
                    ][:3]
                    if neq:
                        print(f"   col {c} first diffs: {neq}")
            else:
                print("   spark head:", a.head(3).to_dict("records"))
                print("   duck  head:", b.head(3).to_dict("records"))
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


def _cell_eq(x, y) -> bool:
    try:
        if isinstance(x, float) or isinstance(y, float):
            fx, fy = float(x), float(y)
            return fx == fy or (math.isnan(fx) and math.isnan(fy))
        return x == y
    except (TypeError, ValueError):
        return x == y


if __name__ == "__main__":
    raise SystemExit(main())
