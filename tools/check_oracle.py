"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at a given
scale factor, compare row count + column names + order-insensitive
value hash (columns sorted by name, floats rounded to 6dp).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from paqarin_spark.session import get_session  # noqa: E402
from paqarin_spark.sources import TABLES  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def canonical(df: pd.DataFrame) -> str:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
    rows = sorted(
        df.astype(str).itertuples(index=False, name=None)
    )
    digest = hashlib.md5(repr(rows).encode()).hexdigest()
    return digest


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        spark_secs = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, {spark_secs:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems and canonical(sdf) != canonical(odf):
            problems.append("value-hash mismatch")
            merged = sdf[sorted(sdf.columns)].copy()
            merged2 = odf[sorted(odf.columns)].copy()
            for frame in (merged, merged2):
                for c in frame.columns:
                    if pd.api.types.is_float_dtype(frame[c]):
                        frame[c] = frame[c].round(6)
            a = set(merged.astype(str).itertuples(index=False, name=None))
            b = set(merged2.astype(str).itertuples(index=False, name=None))
            sample_a = list(a - b)[:3]
            sample_b = list(b - a)[:3]
            problems.append(f"spark-only={sample_a} oracle-only={sample_b}")
        if problems:
            print(f"FAIL {name}: {'; '.join(str(p) for p in problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: rows={len(sdf)} match ({spark_secs:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
