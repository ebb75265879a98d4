"""Rollup + cascade invariants.

Modeled on the reference's equivalence test (per-site-separate vs combined,
tests/testthat/test_CRU_WFDEI_NDEP.R:131-195): our versions are
cascade==direct, salted==unsalted, N-partition==1-partition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestr_spark.operators.rollup import (
    ACCUMULATORS,
    build_all_tiers,
    recombine,
    rollup_cascade,
    rollup_from_raw,
)
from ingestr_spark.operators.skew import salted_rollup_from_raw

CMP_COLS = ["source", "bucket", "n_seq", "sum_n_tok", "min_n_tok", "max_n_tok",
            "tok_sum", "tok_min", "tok_max", "qc_ok_cnt"]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*CMP_COLS).collect())


def test_cascade_equals_direct_daily(tok):
    direct = rollup_from_raw(tok, "1d")
    via_hourly = rollup_cascade(rollup_from_raw(tok, "1h"), "1d")
    assert _rows(direct) == _rows(via_hourly)


def test_cascade_equals_direct_monthly(tok):
    tiers = build_all_tiers(tok, ("1h", "1d", "1mo"))
    direct = rollup_from_raw(tok, "1mo")
    assert _rows(direct) == _rows(tiers["1mo"])


def test_salted_equals_unsalted(tok):
    plain = rollup_from_raw(tok, "1d")
    salted = salted_rollup_from_raw(tok, "1d", n_salts=16)
    assert _rows(plain) == _rows(salted)


def test_salted_supports_every_advertised_tier(tok):
    """Every tier in TIER_ORDER (incl. the bucket-expression-only '1w_ref')
    works on the salted skew path, not just the date_trunc grains."""
    from ingestr_spark.operators.rollup import TIER_ORDER

    for tier in TIER_ORDER:
        if tier == "raw":
            continue
        plain = rollup_from_raw(tok, tier)
        salted = salted_rollup_from_raw(tok, tier, n_salts=4)
        assert _rows(plain) == _rows(salted), tier


def test_partitioning_invariance(tok):
    one = rollup_from_raw(tok.coalesce(1), "1d")
    many = rollup_from_raw(tok.repartition(16), "1d")
    assert _rows(one) == _rows(many)


def test_derived_columns_exact(tok):
    d = rollup_from_raw(tok, "1d")
    bad = d.filter(
        (F.col("avg_n_tok") != F.col("sum_n_tok").cast("double") / F.col("n_seq"))
        | (F.col("qc_frac") < 0) | (F.col("qc_frac") > 1)
    )
    assert bad.count() == 0


def test_counts_conserve_through_cascade(tok):
    n_raw = tok.count()
    tiers = build_all_tiers(tok, ("1h", "1d", "1mo"))
    for t, df in tiers.items():
        assert df.agg(F.sum("n_seq")).collect()[0][0] == n_raw, t


def test_randomized_equivalences(spark):
    """Seeded random frames (beyond the fixed fixture): cascade==direct and
    salted==plain must hold for arbitrary data shapes."""
    import random

    rng = random.Random(1234)
    rows = []
    for i in range(2000):
        toks = [rng.randrange(50257) for _ in range(rng.randrange(1, 30))]
        rows.append((
            f"s{rng.randrange(5)}",
            f"2023-0{rng.randrange(1, 8)}-{rng.randrange(1, 28):02d} "
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:00",
            toks, len(toks), rng.randrange(4), i,
        ))
    df = spark.createDataFrame(
        rows, "source string, ts_s string, tokens array<int>, n_tok int, qc int, id long"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    direct = rollup_from_raw(df, "1mo")
    via = rollup_cascade(rollup_cascade(rollup_from_raw(df, "1h"), "1d"), "1mo")
    assert _rows(direct) == _rows(via)
    assert _rows(direct) == _rows(
        __import__("ingestr_spark.operators.skew", fromlist=["x"]).salted_rollup_from_raw(df, "1mo", 7)
    )


def test_ref_week_semantics_vs_iso(spark):
    """lubridate::week probe on a Jan-1-on-Sunday year (2023): the reference
    counts 7-day blocks from Jan 1, so 2023-01-01 is week 1 anchored at
    2023-01-01, while ISO date_trunc('week') places it in the Monday week of
    2022-12-26. Also probes the short block 53 (Dec 31)."""
    import datetime as dt

    from ingestr_spark.operators.met import daily_to
    from ingestr_spark.operators.rollup import bucket_expr

    days = ["2023-01-01", "2023-01-07", "2023-01-08", "2023-12-30", "2023-12-31",
            "2024-12-31"]  # 2024 is a leap year: Dec 31 = yday 366 -> week 53
    df = spark.createDataFrame([(d,) for d in days], "d string").withColumn(
        "d", F.to_date("d")
    )
    ref = {r["d"].isoformat(): r["b"] for r in df.select(
        "d", bucket_expr("1w_ref", "d").cast("date").alias("b")).collect()}
    assert ref["2023-01-01"] == dt.date(2023, 1, 1)
    assert ref["2023-01-07"] == dt.date(2023, 1, 1)   # same 7-day block
    assert ref["2023-01-08"] == dt.date(2023, 1, 8)   # next block
    assert ref["2023-12-30"] == dt.date(2023, 12, 24) # block 52
    assert ref["2023-12-31"] == dt.date(2023, 12, 31) # short block 53
    assert ref["2024-12-31"] == dt.date(2024, 12, 30) # leap: yday 366, block 53
    iso = {r["d"].isoformat(): r["b"] for r in df.select(
        "d", bucket_expr("1w", "d").cast("date").alias("b")).collect()}
    assert iso["2023-01-01"] == dt.date(2022, 12, 26)  # ISO disagrees

    # daily_to 'w' now emits the reference's (year, week) pair
    vals = df.withColumn("sitename", F.lit("s")).withColumn("v", F.lit(1.0))
    wk = {(r["year"], r["week"]) for r in
          daily_to(vals, "w", {"v": "mean"}, key_cols=["sitename"], date_col="d").collect()}
    assert (2023, 1) in wk and (2023, 53) in wk and (2022, 52) not in wk


def test_ref_week_cascade_equals_direct(tok):
    """Daily buckets never straddle a 7-day block boundary, so the cascade
    1d -> 1w_ref must equal the direct raw -> 1w_ref rollup exactly."""
    direct = rollup_from_raw(tok, "1w_ref")
    via = rollup_cascade(rollup_from_raw(tok, "1d"), "1w_ref")
    assert _rows(direct) == _rows(via)


def test_accumulator_types_match_table_and_store_schema(spark, tok):
    """Each rollup's accumulator columns have the stored type the table
    declares, and the store's declared schema agrees: a mistyped table row
    fails here, not at the first store read."""
    from pyspark.sql.types import _parse_datatype_string

    from ingestr_spark.retention import STORED_SCHEMA

    stored = spark.createDataFrame([], STORED_SCHEMA).schema
    h1 = rollup_from_raw(tok, "1h")
    frames = {
        "rollup_from_raw": h1,
        "rollup_cascade": rollup_cascade(h1, "1d"),
        "recombine": recombine(h1.unionByName(h1)),
        "salted_rollup_from_raw": salted_rollup_from_raw(tok, "1d"),
    }
    for c, (_, _, t) in ACCUMULATORS.items():
        want = _parse_datatype_string(t)
        assert stored[c].dataType == want, c
        for name, df in frames.items():
            assert df.schema[c].dataType == want, (name, c)
