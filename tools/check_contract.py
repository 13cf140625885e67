"""Local mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() side-by-side on DuckDB at sf0.01, compare row count,
sorted-column schema, and order-insensitive value content."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as entrymod
import pytimetk_spark as tk

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:] or None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def dtype_class_mismatches(spark_df: pd.DataFrame,
                           oracle_df: pd.DataFrame) -> list[str]:
    """Flag columns whose dtype CLASS differs between the Spark result and
    the DuckDB oracle — the driver's value-hash is dtype-sensitive while the
    old blanket ``astype("int64")`` coercion was not, which is exactly how a
    HUGEINT oracle column (DuckDB windowed ``sum()`` over integers → int128 →
    pandas float64) hid the 4-round ``sessionize`` failure (VERDICT r4 #1-2).

    An oracle float column is a mismatch against a Spark integer column
    UNLESS it contains NaNs (DuckDB widens NULL-able integer columns to
    float64 in pandas, and Spark's toPandas does the same — that widening is
    symmetric and legitimate)."""
    bad = []
    for c in sorted(set(spark_df.columns) & set(oracle_df.columns)):
        s, o = spark_df[c], oracle_df[c]
        s_int = pd.api.types.is_integer_dtype(s)
        o_int = pd.api.types.is_integer_dtype(o)
        o_float = pd.api.types.is_float_dtype(o)
        s_float = pd.api.types.is_float_dtype(s)
        if s_int and o_float and not o.isna().any():
            bad.append(f"{c}: spark {s.dtype} vs oracle {o.dtype}"
                       " (non-null float oracle — HUGEINT/DECIMAL leak?)")
        elif o_int and s_float and not s.isna().any():
            bad.append(f"{c}: spark {s.dtype} vs oracle {o.dtype}")
    return bad


def main():
    spark = tk.get_spark(master="local[4]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    t_start = time.perf_counter()
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.perf_counter()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"{name:34s} SPARK-ERROR {str(e)[:120]}")
            continue
        if name not in osql:
            print(f"{name:34s} rows-only    {len(got):>8} rows"
                  f"   spark={time.perf_counter() - t0:6.2f}s")
            continue
        t_spark = time.perf_counter() - t0
        t1 = time.perf_counter()
        try:
            want = con.execute(osql[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"{name:34s} DUCK-ERROR  {str(e)[:120]}")
            continue
        g, w = normalize(got), normalize(want)
        status = []
        dt_bad = dtype_class_mismatches(got, want)
        if dt_bad:
            status.append("DTYPE " + "; ".join(dt_bad))
        if len(g) != len(w):
            status.append(f"ROWS {len(g)} vs {len(w)}")
        if list(g.columns) != list(w.columns):
            status.append(f"SCHEMA {list(g.columns)} vs {list(w.columns)}")
        if not status:
            try:
                # EXACT equality after the round-6 canon — mirrors the
                # driver's value-hash (round-1 lesson: rtol here hid two
                # hash_match=false rows)
                pd.testing.assert_frame_equal(g, w, check_dtype=False)
            except AssertionError as e:
                status.append("VALUES " + str(e).splitlines()[0][:150])
        if status:
            failures.append((name, "; ".join(status)))
            print(f"{name:34s} MISMATCH    {'; '.join(status)[:160]}")
        else:
            t_duck = time.perf_counter() - t1
            print(f"{name:34s} OK          {len(g):>8} rows"
                  f"   spark={t_spark:6.2f}s duck={t_duck:6.2f}s")
    print(f"\ntotal elapsed: {time.perf_counter() - t_start:.1f}s")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nALL MATCH")


if __name__ == "__main__":
    main()
