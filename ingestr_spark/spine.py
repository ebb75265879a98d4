"""Date-spine generation — the gap-introducing primitive.

Reproduces ``init_dates_dataframe()`` semantics from the reference
(R/init_dates_dataframe.R:40-113): a dense calendar axis at timescale
d / m / y / h / hh, with

* monthly points anchored to the 15th of the month
  (R/init_dates_dataframe.R:73-78; CRU floor+14 R/ingest_globalfields.R:972-975),
* ``noleap=True`` dropping Feb-29 rows (R/init_dates_dataframe.R:105-108),
* weekly spine = 7-day steps (the reference-exact lubridate::week BUCKETING
  — 7-day blocks from Jan 1, R/get_obs_bysite_fluxnet.R:397-400 — lives in
  operators/rollup.py ``bucket_expr("1w_ref", ...)`` and met.daily_to("w")).

Everything is pure Spark SQL (``sequence`` + ``explode``) — generated on
executors, never driver-side loops, so a 1000-year × 1M-key spine is still a
distributed plan. Per-key spines come from each key's own min/max bucket
(the reference builds one spine per site from siteinfo year_start/year_end,
R/ingest.R:195-206).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# timescale code -> (sequence step, date_trunc grain)
_STEPS = {
    "d": ("interval 1 day", "day"),
    "m": ("interval 1 month", "month"),
    "y": ("interval 1 year", "year"),
    "h": ("interval 1 hour", "hour"),
    "hh": ("interval 30 minutes", None),
    "w": ("interval 1 week", "week"),
}

def noleap_filter(date_col):
    """Column predicate keeping everything except Feb-29."""
    return ~((F.month(date_col) == 2) & (F.dayofmonth(date_col) == 29))


def anchor_month_15(date_col):
    """Monthly point anchored to the 15th (floor to month, +14 days)."""
    return F.date_add(F.date_trunc("month", date_col).cast("date"), 14)


def init_dates_dataframe(
    spark: SparkSession,
    yrstart: int,
    yrend: int,
    startmoy: int = 1,
    startdoy: int = 1,
    timescale: str = "d",
    endmoy: int = 12,
    enddom: int = 31,
    noleap: bool = False,
) -> DataFrame:
    """Reference-EXACT spine constructor (R/init_dates_dataframe.R:40-113),
    including its end-point quirks:

    * d:  start = yrstart-startmoy-01 + (startdoy-1) days,
          end = yrend-endmoy-enddom (R:63-73);
    * m:  the 15th of each month, start/end both pinned to the 15th (R:74-79);
    * y:  start = yrstart-01-01, end = yrend-**07-01** (R:80-85) — the Jul-01
          bound guarantees yrend's Jan-01 point is inside the range; emitted
          points are Jan-01 of each year;
    * h:  end at yrend-endmoy-enddom **23:00** (R:86-92); hh: ... 23:30 (R:93-99);
    * degenerate range (start > end) or an invalid end date → a single row
      with date = NULL, NOT an empty frame (R:102-104 ``tibble(date = NA)``);
    * ``noleap`` drops Feb-29 rows (R:105-108).

    Column ``date``: DateType for d/m/y, TimestampType for h/hh.
    """
    import datetime as _dt

    is_ts = timescale in ("h", "hh")
    try:
        if timescale == "d":
            start = _dt.date(yrstart, startmoy, 1) + _dt.timedelta(days=startdoy - 1)
            end = _dt.date(yrend, endmoy, enddom)
            step = "interval 1 day"
        elif timescale == "m":
            start = _dt.date(yrstart, startmoy, 15)
            end = _dt.date(yrend, endmoy, 15)
            step = "interval 1 month"
        elif timescale == "y":
            start = _dt.date(yrstart, 1, 1)
            end = _dt.date(yrend, 7, 1)
            step = "interval 1 year"
        elif timescale == "h":
            start = _dt.datetime(yrstart, startmoy, 1) + _dt.timedelta(days=startdoy - 1)
            end = _dt.datetime(yrend, endmoy, enddom, 23, 0, 0)
            step = "interval 1 hour"
        elif timescale == "hh":
            start = _dt.datetime(yrstart, startmoy, 1) + _dt.timedelta(days=startdoy - 1)
            end = _dt.datetime(yrend, endmoy, enddom, 23, 30, 0)
            step = "interval 30 minutes"
        else:
            raise ValueError(f"unknown timescale {timescale!r}")
    except (ValueError, OverflowError) as e:
        if "timescale" in str(e):
            raise
        start, end = None, None  # invalid calendar date -> degenerate

    dtype = "timestamp" if is_ts else "date"
    if start is None or end is None or start > end:
        return spark.range(1).select(F.lit(None).cast(dtype).alias("date"))
    lit = "TIMESTAMP" if is_ts else "DATE"
    df = spark.range(1).select(
        F.expr(f"explode(sequence({lit} '{start}', {lit} '{end}', {step})) AS date")
    )
    if noleap:
        df = df.filter(noleap_filter(F.col("date")))
    return df


def date_spine(
    spark: SparkSession,
    start: str,
    end: str,
    timescale: str = "d",
    noleap: bool = False,
) -> DataFrame:
    """Dense calendar axis ``[start, end]`` at ``timescale``; column ``date``
    (DateType for d/m/y/w, TimestampType for h/hh)."""
    if timescale not in _STEPS:
        raise ValueError(f"unknown timescale {timescale!r}; one of {sorted(_STEPS)}")
    step, _ = _STEPS[timescale]
    if timescale in ("h", "hh"):
        expr = (
            f"explode(sequence(TIMESTAMP '{start}', TIMESTAMP '{end}', {step})) AS date"
        )
        df = spark.range(1).select(F.expr(expr))
    else:
        expr = f"explode(sequence(DATE '{start}', DATE '{end}', {step})) AS date"
        df = spark.range(1).select(F.expr(expr))
        if timescale == "m":
            df = df.select(anchor_month_15(F.col("date")).alias("date"))
    if noleap:
        df = df.filter(noleap_filter(F.col("date")))
    return df


def key_spine(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str = "bucket",
    step: str = "interval 1 day",
    noleap: bool = False,
) -> DataFrame:
    """Per-key dense spine from each key's own min..max bucket.

    One aggregate + one generator — no crossJoin, no driver collect; the
    explode distributes rows so a key spanning 50 years doesn't pin a task.
    """
    bounds = df.groupBy(*key_cols).agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    out = bounds.select(
        *key_cols,
        F.explode(F.expr(f"sequence(_lo, _hi, {step})")).alias(bucket_col),
    )
    if noleap:
        out = out.filter(noleap_filter(F.col(bucket_col)))
    return out


def global_key_spine(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str = "bucket",
    step: str = "interval 1 day",
) -> DataFrame:
    """Spine over the GLOBAL min..max for every key (distinct keys ×
    global axis) — the reference's siteinfo-driven spine where all sites
    share the requested year range (R/ingest.R:195-206)."""
    keys = df.select(*key_cols).distinct()
    lo_hi = df.agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
    axis = lo_hi.select(
        F.explode(F.expr(f"sequence(_lo, _hi, {step})")).alias(bucket_col)
    )
    # distinct-key dim is small relative to facts -> broadcast the axis cross
    return keys.crossJoin(F.broadcast(axis))
