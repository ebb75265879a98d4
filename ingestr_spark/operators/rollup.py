"""Calendar-bucketed rollups and the continuous-aggregate cascade.

Reference semantics: the HH→daily→weekly/monthly/annual rollup family
(R/get_vpd_day_fluxnet2015.R:82-91; R/get_obs_bysite_fluxnet.R:394-434,
558-600, 723-765) — NA-aware group-by aggregates keyed by (site, calendar
bucket) with a QC-fraction conditional count. Here the same shapes run over
the token table keyed by (source, bucket).

Scale design:

* Buckets via ``date_trunc`` — a pure projection, no UDF, stays inside
  WholeStageCodegen; the only shuffle is the hash-agg exchange on
  (source, bucket), which Spark executes partial→final (map-side combine),
  so 10^12 raw rows reduce before the wire.
* The cascade raw→1h→1d→1mo re-aggregates each tier FROM THE PREVIOUS tier
  using only algebraic accumulators (sum/count/min/max compose; avg and
  qc_frac are derived at read time from exact integer sums) — re-bucketing a
  coarser tier touches ~24-31× fewer rows than recomputing from raw, and
  integer accumulators make the result independent of partitioning/order
  (the rule's exact-match requirement; float means would not be).
* ``avg_n_tok``/``qc_frac`` are algebraic: every rollup here returns them,
  computed from the integer parts by :func:`_derived`, but they are NEVER
  re-aggregated and the tier store does not write them — it keeps the
  integer accumulators and derives both doubles on read by the same
  expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_ORDER = ["raw", "1h", "1d", "1w", "1w_ref", "1mo", "1y"]
TIER_GRAIN = {"1h": "hour", "1d": "day", "1w": "week", "1mo": "month", "1y": "year"}

# Two weekly definitions, both supported:
#   "1w"     — ISO weeks (date_trunc('week'): Monday-anchored, year-crossing)
#              — the engine DEFAULT, matching Spark/DuckDB/ANSI conventions;
#   "1w_ref" — the reference's lubridate::week blocks
#              (R/get_obs_bysite_fluxnet.R:397-400): 7-day blocks counted
#              from Jan 1 of each year, week = (yday-1) div 7 + 1, bucket =
#              the block's first day (Jan-1-anchored; a short 1-2 day block
#              53 exists at year end). The two disagree for most dates —
#              e.g. 2023-01-01 (a Sunday) is ISO week 52 of 2022 but
#              reference week 1 of 2023.


def bucket_expr(tier: str, col: str):
    """Calendar bucket for a tier as a timestamp column expression."""
    if tier == "1w_ref":
        return F.expr(
            f"CAST(date_add(trunc({col}, 'YEAR'), "
            f"CAST(((dayofyear({col}) - 1) div 7) * 7 AS INT)) AS TIMESTAMP)"
        )
    return F.date_trunc(TIER_GRAIN[tier], F.col(col))

#: The one definition of a tier row: each integer accumulator, in stored
#: order, -> (its aggregate over raw rows after :func:`with_token_stats`,
#: the function that merges partial rows of it, its stored type over the
#: raw table's ``n_tok int`` / ``tokens array<int>``). The rollups, the
#: salted rollup, the windowed stream and the store schema all read it.
ACCUMULATORS = {
    "n_seq": ("count(1)", "sum", "long"),
    "sum_n_tok": ("sum(n_tok)", "sum", "long"),
    "min_n_tok": ("min(n_tok)", "min", "int"),
    "max_n_tok": ("max(n_tok)", "max", "int"),
    "tok_sum": ("sum(tok_sum_row)", "sum", "long"),
    "tok_min": ("min(tok_min_row)", "min", "int"),
    "tok_max": ("max(tok_max_row)", "max", "int"),
    # quality codes {0,1} count as good (the reference's `qc <= threshold`,
    # R/get_obs_bysite_fluxnet.R:787-832)
    "qc_ok_cnt": (
        "sum(CASE WHEN qc IN (0, 1) THEN 1 ELSE 0 END)", "sum", "long"),
}
#: the accumulator column names, in stored order
ACC_COLS = list(ACCUMULATORS)


def _raw_aggs() -> list:
    """The accumulators as aggregates over raw rows."""
    return [F.expr(f"{raw} AS {c}") for c, (raw, _, _) in ACCUMULATORS.items()]


def _merge_aggs() -> list:
    """The accumulators as merges of partial tier rows (sum/min/max
    compose): the coarser-tier cascade and the same-grain recombine."""
    return [F.expr(f"{m}({c}) AS {c}") for c, (_, m, _) in ACCUMULATORS.items()]


def with_token_stats(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Per-row token-derived statistics, all JVM-side array expressions
    (F.aggregate / array_min / array_max — no Python in the hot path)."""
    return (
        df.withColumn(
            "tok_sum_row",
            F.aggregate(tokens_col, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")),
        )
        .withColumn("tok_min_row", F.array_min(tokens_col))
        .withColumn("tok_max_row", F.array_max(tokens_col))
    )


def _derived(df: DataFrame) -> DataFrame:
    """Add ``avg_n_tok`` and ``qc_frac`` right after ``qc_ok_cnt``, in one
    projection; columns after ``qc_ok_cnt`` (a store read's ``p_month``)
    follow the two doubles. Written as SQL strings: ``selectExpr`` builds
    the projection in one JVM call, where Column expressions cost a py4j
    round trip per node — this runs on every tier-store read."""
    names = df.columns
    cols = [f"`{c}`" for c in names]
    i = names.index("qc_ok_cnt") + 1
    return df.selectExpr(
        *cols[:i],
        "CAST(sum_n_tok AS DOUBLE) / n_seq AS avg_n_tok",
        "CAST(qc_ok_cnt AS DOUBLE) / n_seq AS qc_frac",
        *cols[i:],
    )


def rollup_from_raw(
    df: DataFrame,
    tier: str,
    key: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Aggregate the raw sequence table into one retention tier."""
    out = with_token_stats(df).groupBy(
        F.col(key).alias("source"),
        bucket_expr(tier, ts_col).alias("bucket"),
    ).agg(*_raw_aggs())
    return _derived(out)


def rollup_cascade(tier_df: DataFrame, to_tier: str, key: str = "source") -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1h→1d, 1d→1mo, …).

    Only algebraic accumulators are recombined, so
    ``cascade(raw→1h→1d) == rollup_from_raw(raw, '1d')`` EXACTLY — the
    equivalence the reference tests per-site-vs-combined
    (tests/testthat/test_CRU_WFDEI_NDEP.R:131-195) and our tests assert per
    partitioning level. The input need not hold one row per (key, bucket):
    a store's stored rows, merge-on-read stacks unmerged, go in as they
    are, and this one aggregation is also their merge (the accumulators
    are the ones :func:`recombine` composes).
    """
    out = tier_df.groupBy(
        F.col(key).alias("source"),
        bucket_expr(to_tier, "bucket").alias("bucket"),
    ).agg(*_merge_aggs())
    return _derived(out)


def recombine(tier_df: DataFrame, key: str = "source") -> DataFrame:
    """SAME-grain recombination of partial tier rows (merge-on-read, r6):
    the union of a month's base rows and its per-batch delta rows collapses
    back to one row per (key, bucket). Buckets are already truncated to the
    tier grain, so no re-bucketing is needed — this is ``rollup_cascade``
    with the identity bucket, grain-agnostic by construction. Integer
    accumulators make the result independent of partitioning and delta
    order. ``avg_n_tok``/``qc_frac`` are computed from the merged integer
    sums by the expression every rollup uses, and any doubles the input
    carries are ignored, so a recombined read is bit-identical to an eager
    merge. (The tier store's stacked-month read keeps only the merged
    accumulators and derives the doubles once over all its months.)"""
    out = tier_df.groupBy(key, "bucket").agg(*_merge_aggs())
    return _derived(out)


def build_all_tiers(
    raw: DataFrame, tiers: tuple[str, ...] = ("1h", "1d", "1mo")
) -> dict[str, DataFrame]:
    """The continuous-aggregate cascade: first tier from raw, each further
    tier from the previous one."""
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for t in tiers:
        prev = rollup_from_raw(raw, t) if prev is None else rollup_cascade(prev, t)
        out[t] = prev
    return out
