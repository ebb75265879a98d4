"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB over the same sf dir, compares row count, column set, and values
(order-insensitive, column-name-sorted, NaN-safe).

Usage: python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from ingestr_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame, name: str) -> list[str]:
    errs = []
    if len(sdf) != len(odf):
        errs.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    a, b = normalize(sdf), normalize(odf)
    if len(a) != len(b):
        return errs
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce")
            bv = pd.to_numeric(bv, errors="coerce")
            bad = ~((av.isna() & bv.isna()) | (av == bv))
            # allow 1-ulp-ish fp slop report separately
            close = bad & av.notna() & bv.notna() & (
                (av - bv).abs() <= 1e-9 * (av.abs() + bv.abs() + 1)
            )
            hard = bad & ~close
            if hard.any():
                i = hard.idxmax()
                errs.append(f"col {c}: {int(hard.sum())} mismatches e.g. row {i}: "
                            f"spark={av[i]!r} oracle={bv[i]!r}")
            elif close.any():
                errs.append(f"col {c}: {int(close.sum())} FP-ulp-only diffs (would fail exact hash!)")
        else:
            eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not eq.all():
                i = (~eq).idxmax()
                errs.append(f"col {c}: {int((~eq).sum())} mismatches e.g. row {i}: "
                            f"spark={av[i]!r} oracle={bv[i]!r}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify-oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.sql(os_[name]).df() if name in os_ else None
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: exception {type(e).__name__}: {e}")
            continue
        if odf is None:
            print(f"SKIP {name}: no oracle (rows-only check), rows={len(sdf)}")
            continue
        errs = compare(sdf, odf, name)
        if errs:
            failed.append(name)
            print(f"FAIL {name} ({len(sdf)} rows):")
            for e in errs:
                print(f"   - {e}")
        else:
            print(f"OK   {name}: {len(sdf)} rows match")
    spark.stop()
    print("RESULT:", "FAIL " + ",".join(failed) if failed else "ALL OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
