"""Self-check harness mirroring the driver's correctness gate.

For every registered query: run the PySpark implementation and the
DuckDB oracle SQL over the same parquet tables, then compare
row count, sorted column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Query names may be short (``q46`` for ``q46_scd2_intervals``); an
unknown or ambiguous name aborts before anything runs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from portfolio1_etl_spark import get_spark
from portfolio1_etl_spark.plans import REGISTRY
from portfolio1_etl_spark.plans.registry import resolve
from portfolio1_etl_spark.schemas import DRIVER_TABLES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — the driver's
    order-insensitive comparison shape."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(float)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def run_check(sf_dir: str, names: list[str] | None = None) -> int:
    todo = [resolve(n) for n in names] if names else list(REGISTRY)
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    for name in todo:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if q.sql is None:
            print(f"SKIP  {name}: no oracle (rows-only) — {len(sdf)} rows "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(q.sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        ok, msg = _compare(sdf, odf)
        status = "ok  " if ok else "FAIL"
        if not ok:
            failures += 1
        print(f"{status}  {name}: {msg} [{time.time()-t0:.1f}s]")
    spark.stop()
    return failures


def _compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    if len(sdf) != len(odf):
        return False, f"row count spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    a, b = _normalize(sdf), _normalize(odf)
    for c in a.columns:
        ca, cb = a[c], b[c]
        if pd.api.types.is_float_dtype(ca) and pd.api.types.is_float_dtype(cb):
            # BIT-PATTERN comparison, matching the driver's value-hash
            # strictness: IEEE `==` calls -0.0 and +0.0 equal, but the
            # driver's hash distinguishes them (the q159 signed-zero
            # class) — a plain `==` self-check reports green on red.
            na = (ca.isna() & cb.isna()).to_numpy()
            bits_eq = (
                ca.to_numpy(dtype="float64").view("int64")
                == cb.to_numpy(dtype="float64").view("int64")
            )
            bad = ~(na | bits_eq)
        else:
            na = (ca.isna() & cb.isna()).to_numpy()
            bad = ~(na | (ca.astype(str) == cb.astype(str)).to_numpy())
        if bad.any():
            mism = int(bad.sum())
            ex_i = int(bad.argmax())
            return False, (
                f"column '{c}' {mism} mismatches; first: "
                f"spark={ca.iloc[ex_i]!r} oracle={cb.iloc[ex_i]!r} (row {ex_i})"
            )
    return True, f"{len(sdf)} rows match"


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    qnames = args[1:] if args and os.path.isdir(args[0]) else args
    sys.exit(1 if run_check(sf, qnames or None) else 0)
