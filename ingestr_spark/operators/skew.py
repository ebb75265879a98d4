"""Skew handling: salted two-phase aggregation (rule-mandated).

The token table has one hot source holding ~50% of rows (FIXTURES.md F1). A
plain groupBy(source, bucket) sends that whole key range through few
reducers. The salted plan splits each (source, bucket) group into
``n_salts`` subgroups for the partial aggregate, then recombines — both
phases use only algebraic INTEGER accumulators, so salted == unsalted
bit-for-bit regardless of row order (SURVEY §7.3-6).

AQE's skew-join/partition splitting also runs (session default); this
operator is for the agg path AQE does not rebalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingestr_spark.operators.rollup import (
    _raw_aggs,
    bucket_expr,
    recombine,
    with_token_stats,
)


def salted_rollup_from_raw(
    df: DataFrame,
    tier: str,
    n_salts: int = 16,
    key: str = "source",
    ts_col: str = "ts",
    salt_col: str = "id",
) -> DataFrame:
    """Two-phase rollup: partial agg on (source, bucket, salt), final agg on
    (source, bucket) by :func:`~ingestr_spark.operators.rollup.recombine`.
    Salt derives from a deterministic row attribute (id % n) — reproducible,
    unlike a random salt."""
    partial = with_token_stats(df).groupBy(
        F.col(key).alias("source"),
        bucket_expr(tier, ts_col).alias("bucket"),
        (F.col(salt_col) % n_salts).alias("_salt"),
    ).agg(*_raw_aggs())
    return recombine(partial)
