"""Correctness checks run after the timed section. Each returns the number
of mismatching rows (0 = pass); the workload counts a non-zero result as a
failed operation."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingestr_spark.operators.rollup import ACC_COLS, TIER_GRAIN

KEYS = ["source", "bucket_us"]


def tier_frame(df: DataFrame, cols: list[str]) -> pd.DataFrame:
    """A tier as pandas, keyed by (source, bucket in epoch microseconds)."""
    pdf = df.select(
        "source", F.unix_micros(F.col("bucket").cast("timestamp")).alias("bucket_us"),
        *cols,
    ).toPandas()
    return pdf.sort_values(KEYS).reset_index(drop=True)


def oracle_tier(raw_files: list[str], tier: str, threads: int) -> pd.DataFrame:
    """The tier's integer accumulators per (source, bucket), aggregated by
    DuckDB straight from the raw parquet files."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")  # else date_trunc buckets shift
        con.execute(f"SET threads={threads}")
        pdf = con.execute(
            f"""
            SELECT source,
                   epoch_us(date_trunc('{TIER_GRAIN[tier]}', ts)) AS bucket_us,
                   count(*) AS n_seq,
                   sum(n_tok) AS sum_n_tok,
                   min(n_tok) AS min_n_tok,
                   max(n_tok) AS max_n_tok,
                   sum(list_sum(tokens)) AS tok_sum,
                   min(list_min(tokens)) AS tok_min,
                   max(list_max(tokens)) AS tok_max,
                   sum(CASE WHEN qc IN (0, 1) THEN 1 ELSE 0 END) AS qc_ok_cnt
            FROM read_parquet(?)
            GROUP BY 1, 2
            """,
            [raw_files],
        ).df()
    finally:
        con.close()
    for c in ACC_COLS:
        pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(KEYS).reset_index(drop=True)


def frame_mismatches(a: pd.DataFrame, b: pd.DataFrame, cols: list[str]) -> int:
    """Rows present on one side only, plus key-matched rows whose ``cols``
    differ (NaN equals NaN)."""
    m = a.merge(b, on=KEYS, how="outer", suffixes=("_a", "_b"), indicator=True)
    bad = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    diff = np.zeros(len(both), dtype=bool)
    for c in cols:
        x, y = both[f"{c}_a"].to_numpy(), both[f"{c}_b"].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype("float64"), y.astype("float64")
            diff |= ~((x == y) | (np.isnan(x) & np.isnan(y)))
        else:
            diff |= x != y
    return bad + int(diff.sum())


def vs_oracle(frame: pd.DataFrame, raw_files: list[str], tier: str, threads: int) -> int:
    """Mismatching rows of a collected tier's accumulators against DuckDB."""
    got = frame[[*KEYS, *ACC_COLS]].astype({c: "int64" for c in ACC_COLS})
    return frame_mismatches(got, oracle_tier(raw_files, tier, threads), ACC_COLS)


def cascade_not_ok(store, finer: str, coarser: str) -> int:
    """Months whose coarser tier does not conserve the finer tier's n_seq."""
    return store.verify_cascade(finer, coarser).filter(
        F.col("ok").isNull() | ~F.col("ok")
    ).count()


def rows_mismatch(a: list, b: list) -> int:
    """Rows of two collected query results that do not pair up."""
    def key(r):
        return tuple("NaN" if isinstance(v, float) and v != v else v for v in r)

    sa, sb = sorted(map(key, a), key=repr), sorted(map(key, b), key=repr)
    if len(sa) != len(sb):
        return abs(len(sa) - len(sb)) + sum(x != y for x, y in zip(sa, sb))
    return sum(x != y for x, y in zip(sa, sb))
