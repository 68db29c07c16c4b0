"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count, column names, and (order-insensitively)
values.

Usage:
    python tools/check_correctness.py [query ...] [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import datetime
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_dtype(s: pd.Series) -> str:
    """Dtype family label, calibrated against observed driver behavior:
    int WIDTH mismatches passed the driver (pack_sequences r3: Spark
    int32 vs DuckDB int64 -> green), and Spark DATE (pandas object of
    datetime.date) vs DuckDB datetime64 passed (daily_counts_gapfilled
    r3) — both collapse to one family here. int-vs-FLOAT drift (DuckDB
    sum(BIGINT) -> HUGEINT -> pandas float64, which stringifies '5.0'
    vs '5') is exactly what failed sample_token_budget r3 — kept as a
    hard mismatch."""
    if len(s) and s.isna().all():
        return "null"
    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    nonnull = s.dropna()
    if len(nonnull) and all(
        isinstance(v, (datetime.date, datetime.datetime)) for v in nonnull
    ):
        return "datetime"
    return "object"


def equalize_null_columns(sdts: dict, ddts: dict) -> None:
    """A column with no non-null values carries no dtype signal (pandas
    renders it object/float/datetime64 depending on the conversion
    path); collapse both sides to 'null' so it can't false-FAIL."""
    for c in sdts:
        if "null" in (sdts[c], ddts.get(c)):
            sdts[c] = ddts[c] = "null"


def frame_normalize(pdf: pd.DataFrame):
    """Sort columns by name, canonicalize dtypes + stringify values, sort
    rows — a dtype-sensitive replica of an order-insensitive typed
    compare (the previous stringify-only version let int-width and
    int-vs-float divergence through; the driver's hasher does not)."""
    pdf = pdf[sorted(pdf.columns)]
    dtypes = {c: canon_dtype(pdf[c]) for c in pdf.columns}

    def norm_val(v):
        # Null check FIRST: pd.NaT is an instance of datetime.datetime
        # and would otherwise take the isoformat branch as 'NaT'.
        if v is None:
            return "null"
        try:
            if pd.isna(v):
                return "null" if not isinstance(v, float) else "nan"
        except (TypeError, ValueError):
            pass
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(float(v))
        if isinstance(v, (pd.Timestamp, datetime.datetime)):
            # midnight timestamps compare equal to plain dates (Spark
            # DATE arrives as datetime.date, DuckDB DATE as datetime64)
            if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
                return v.date().isoformat()
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)

    rows = sorted(
        tuple(norm_val(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return dtypes, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=None)
    args = ap.parse_args()
    def _is_scale_factor(v: str) -> bool:
        try:
            float(v)
            return True
        except ValueError:
            return False

    if args.sf is None or _is_scale_factor(args.sf):
        # Accept a bare scale factor ("--sf 0.001") as well as a data
        # dir path — a bare number previously fell through to DuckDB as
        # a relative path and died with a confusing "No files found
        # that match the pattern '0.001/region.parquet'". Only a value
        # that parses as a number is treated as a scale factor; any
        # other slash-free string (e.g. "--sf mydata") stays a relative
        # data-dir path.
        from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir

        # Normalize through :g float formatting so every spelling of the
        # same number ("1.0", "1", "0.30") hits the one directory name
        # the replica generator writes (sf1, sf0.3).
        args.sf = sf_dir(f"{float(args.sf):g}" if args.sf else "0.01")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.queries or list(qs)

    from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    failures = 0
    for name in names:
        if name not in qs:
            print(f"[{name}] MISSING from queries()")
            failures += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[{name}] SPARK ERROR: {e}")
            failures += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(
                f"[{name}] rows={len(spdf)} ({spark_s:.1f}s) "
                "no-oracle (rows-only check)"
            )
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[{name}] ORACLE ERROR: {e}")
            failures += 1
            continue
        ok = True
        msgs = []
        if sorted(spdf.columns) != sorted(dpdf.columns):
            ok = False
            msgs.append(
                f"schema: spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}"
            )
        if len(spdf) != len(dpdf):
            ok = False
            msgs.append(f"rows: spark={len(spdf)} duck={len(dpdf)}")
        if ok:
            sdts, ns = frame_normalize(spdf)
            ddts, nd = frame_normalize(dpdf)
            equalize_null_columns(sdts, ddts)
            if sdts != ddts:
                ok = False
                diff = {
                    c: (sdts[c], ddts[c]) for c in sdts if sdts[c] != ddts[c]
                }
                msgs.append(f"dtypes differ: {diff}")
            elif ns != nd:
                ok = False
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        status = "OK " if ok else "FAIL"
        print(f"[{name}] {status} rows={len(spdf)} ({spark_s:.1f}s)"
              + ("" if ok else " | " + " | ".join(msgs)))
        failures += 0 if ok else 1

    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
