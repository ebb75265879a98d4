"""Gap-fill semantics: LOCF, zero-fill, linear interpolation (SQL-window and
pandas-UDF implementations must agree), head/tail extension."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from ingestr_spark.operators.gapfill import (
    doy_climatology_fill,
    interpolate_linear,
    interpolate_linear_pandas,
    locf,
    spine_join,
    zero_fill,
)
from ingestr_spark.operators.rollup import rollup_from_raw
from ingestr_spark.spine import key_spine


@pytest.fixture(scope="module")
def series(spark):
    # key a: values at day 1 (10.0) and day 5 (50.0), nulls between;
    # key b: leading and trailing nulls around a single point
    rows = [
        ("a", dt.date(2021, 1, 1), 10.0),
        ("a", dt.date(2021, 1, 2), None),
        ("a", dt.date(2021, 1, 3), None),
        ("a", dt.date(2021, 1, 4), None),
        ("a", dt.date(2021, 1, 5), 50.0),
        ("b", dt.date(2021, 1, 1), None),
        ("b", dt.date(2021, 1, 2), 7.0),
        ("b", dt.date(2021, 1, 3), None),
    ]
    return spark.createDataFrame(rows, "source string, bucket date, v double")


def _vals(df, key):
    return [r["v"] for r in df.filter(F.col("source") == key).orderBy("bucket").collect()]


def test_linear_interior_and_headtail(series):
    out = interpolate_linear(series, ["v"])
    assert _vals(out, "a") == [10.0, 20.0, 30.0, 40.0, 50.0]
    assert _vals(out, "b") == [7.0, 7.0, 7.0]  # head backfill + tail LOCF


def _long_hourly_key(spark, n=3_000):
    """One key of ``n`` hourly rows with null runs at the head, in the
    middle and at the tail. Known values lie on lines of small integer
    slope per second, so both kernels' blends are exact."""
    rng = np.random.default_rng(7)
    t0 = dt.datetime(2021, 1, 1)
    known = rng.random(n) < 0.3
    known[:40] = known[-40:] = False
    known[1_000:1_400] = False
    v, slope, rows = 0.0, 1, []
    for i in range(n):
        rows.append(("k", t0 + dt.timedelta(hours=i), v if known[i] else None))
        slope = int(rng.integers(-3, 4)) if known[i] else slope
        v += 3600.0 * slope
    return spark.createDataFrame(rows, "source string, bucket timestamp, v double")


def test_pandas_kernel_matches_sql_windows(spark, series):
    for df in (series, _long_hourly_key(spark)):
        sql_out = interpolate_linear(df, ["v"])
        pd_out = interpolate_linear_pandas(df, ["v"])
        a = sorted(tuple(r) for r in sql_out.collect())
        b = sorted(tuple(r) for r in pd_out.collect())
        assert a == b
        # running frames only: an unbounded-following frame is recomputed
        # per row, O(n^2) per key
        plan = sql_out._jdf.queryExecution().optimizedPlan().toString()
        assert "unboundedfollowing" not in plan.lower()


def test_locf(series):
    out = locf(series, ["v"])
    assert _vals(out, "a") == [10.0, 10.0, 10.0, 10.0, 50.0]
    assert _vals(out, "b") == [None, 7.0, 7.0]


def test_zero_fill(series):
    out = zero_fill(series, ["v"])
    assert _vals(out, "b") == [0.0, 7.0, 0.0]


def _reference_spine(tier, step):
    """The spine as a join: each key's dense ``key_spine`` left-joined with
    the tier, ``gap`` where no tier row landed."""
    joined = key_spine(tier, ["source"], "bucket", step).join(
        tier, on=["source", "bucket"], how="left")
    return joined.withColumn("gap", F.col("n_seq").isNull())


def _assert_spine_matches_reference(tier, step):
    got, want = spine_join(tier, step=step), _reference_spine(tier, step)
    assert got.schema == want.schema  # names, column order, types, nullability
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_spine_join_introduces_gaps(tok):
    tier = rollup_from_raw(tok, "1d").withColumn("bucket", F.col("bucket").cast("date"))
    tier = tier.select("source", "bucket", "n_seq", "sum_n_tok")
    j = spine_join(tier)
    n_spine = j.count()
    n_tier = tier.count()
    assert n_spine > n_tier  # sparse input must create gap rows
    assert j.filter("gap").count() == n_spine - n_tier
    # non-gap rows keep their values
    assert j.filter("NOT gap AND sum_n_tok IS NULL").count() == 0
    _assert_spine_matches_reference(tier, "interval 1 day")


_H = dt.datetime(2021, 3, 1)
SPINE_CASES = {
    # duplicate (key, bucket) rows, a null bucket, a null measure on a real row
    "hourly_dups_null_buckets": (
        "source string, bucket timestamp, n_seq long, v double",
        [("a", _H, 1, 1.0), ("a", _H, 2, 2.0), ("a", _H + dt.timedelta(hours=3), 1, 3.0),
         ("a", None, 5, 5.0), ("b", _H + dt.timedelta(hours=5), 1, 4.0),
         ("b", _H + dt.timedelta(hours=6), None, 6.0),
         ("b", _H + dt.timedelta(hours=9), 1, None), ("c", None, 1, 1.0)],
        "interval 1 hour",
    ),
    "daily_dates": (
        "source string, bucket date, n_seq long, v double",
        [("a", dt.date(2020, 2, 27), 1, 1.0), ("a", dt.date(2020, 3, 2), 2, 2.0),
         ("b", dt.date(2021, 12, 30), 1, 3.0), ("b", dt.date(2022, 1, 2), 1, 4.0)],
        "interval 1 day",
    ),
    "single_bucket_key": (
        "source string, bucket date, n_seq long, v double",
        [("a", dt.date(2021, 6, 1), 1, 10.0), ("b", dt.date(2021, 6, 1), 2, 1.0),
         ("b", dt.date(2021, 6, 4), 3, 2.0)],
        "interval 1 day",
    ),
    "month15_anchors": (
        "source string, bucket date, n_seq long, v double",
        [("a", dt.date(2020, 11, 15), 1, 1.0), ("a", dt.date(2021, 3, 15), 2, 2.0),
         ("a", dt.date(2021, 4, 15), 3, 3.0), ("b", dt.date(2021, 1, 15), 1, 4.0)],
        "interval 1 month",
    ),
    "empty": ("source string, bucket date, n_seq long, v double", [], "interval 1 day"),
}


@pytest.mark.parametrize("case", sorted(SPINE_CASES))
def test_spine_join_matches_reference(spark, case):
    schema, rows, step = SPINE_CASES[case]
    _assert_spine_matches_reference(spark.createDataFrame(rows, schema), step)


def test_doy_climatology_fill(spark):
    # non-leap years only: same calendar day == same day-of-year
    rows = [
        ("a", dt.date(2021, 6, 1), 10.0),
        ("a", dt.date(2022, 6, 1), 30.0),
        ("a", dt.date(2023, 6, 1), None),  # -> mean(10, 30) = 20
    ]
    df = spark.createDataFrame(rows, "source string, bucket date, v double")
    out = doy_climatology_fill(df, ["v"])
    got = {r["bucket"]: r["v"] for r in out.collect()}
    assert got[dt.date(2023, 6, 1)] == 20.0
