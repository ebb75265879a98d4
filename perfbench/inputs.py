"""Seeded benchmark inputs, generated with ``datagen.synth_tokens`` and
cached on disk by (shape, size, seed).

The seed picks the id range of the generated sequences (``synth_tokens``
derives every column from the id), so two seeds give disjoint tables of
the same shape. Generation runs outside every timed region; the cache
lets repeated runs of one seed skip it.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestr_spark.datagen import EPOCH, synth_tokens

DAY = 86400
#: distinct id ranges; seeds reuse them modulo this, so a checkout holds at
#: most this many generated tables per shape (arrival and query order still
#: follow the full seed)
SEED_RANGES = 4


@dataclass(frozen=True)
class Shape:
    """One synthetic table shape. ``n_sources`` is odd: the hot-source remap
    takes every even id, so with an even count the odd ids would reach only
    half of the ``srcK`` keys."""

    name: str
    n_rows: int
    n_sources: int
    max_ntok: int
    span_days: int
    files: int


#: build_wide: ~0.17 sequences per ``srcK``-hour, so 1h series are sparse
WIDE = Shape("wide", 300_000, 101, 16, 365, 8)
#: the maintain_query base store: ~23 sequences per hour on ``hot``, ~1.2
#: per ``srcK``-hour; small so the eager rebuild that checks it stays cheap
BASE = Shape("base", 100_000, 21, 128, 90, 4)
BATCH_ROWS = 20_000


def _generate(spark: SparkSession, shape: Shape, first_id: int, n: int) -> DataFrame:
    """Rows ``first_id <= id < first_id + n`` of ``synth_tokens``. Spark's
    range splits evenly, so the partition count is scaled to keep about
    ``n / files`` rows per non-empty partition; the id filter is pushed
    below the token derivation, so skipped ids cost almost nothing."""
    total = first_id + n
    parts = max(shape.files, -(-total * shape.files // n))
    return synth_tokens(
        spark, total, n_sources=shape.n_sources, partitions=parts,
        max_ntok=shape.max_ntok, span_seconds=shape.span_days * DAY,
    ).filter(F.col("id") >= first_id)


def _first_id(shape: Shape, seed: int) -> int:
    return (seed % SEED_RANGES) * shape.n_rows


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _publish(tmp: str, path: str) -> None:
    """Move a finished table into place, dropping the empty files left by
    the range partitions the id filter emptied."""
    for f in glob.glob(os.path.join(tmp, "**", "*.parquet"), recursive=True):
        if pq.ParquetFile(f).metadata.num_rows == 0:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def _key(shape: Shape, seed: int) -> str:
    return (f"{shape.name}-n{shape.n_rows}-k{shape.n_sources}-t{shape.max_ntok}"
            f"-d{shape.span_days}-s{seed % SEED_RANGES}")


def raw_table(spark: SparkSession, cache: str, shape: Shape, seed: int) -> str:
    """Path of the seeded raw parquet table for ``shape``."""
    path = os.path.join(cache, _key(shape, seed))
    if not _done(path):
        tmp = path + ".tmp"
        _generate(spark, shape, _first_id(shape, seed), shape.n_rows).write.mode(
            "overwrite"
        ).parquet(tmp)
        _publish(tmp, path)
    return path


def batch_files(
    spark: SparkSession, cache: str, shape: Shape, seed: int, n_batches: int
) -> list[str]:
    """``n_batches`` parquet files of ``BATCH_ROWS`` new sequences each,
    ids following the seed's base table. Three rows in four are moved
    into the newest month of the span (streaming batches favour the
    current month); each batch is one file. Batch ids start above every
    seed's base range, so no batch repeats a base row."""
    path = os.path.join(cache, f"{_key(shape, seed)}-batches{n_batches}x{BATCH_ROWS}")
    if not _done(path):
        first = SEED_RANGES * shape.n_rows + (seed % SEED_RANGES) * n_batches * BATCH_ROWS
        df = _generate(spark, shape, first, n_batches * BATCH_ROWS)
        newest = DAY * (shape.span_days - 31)  # last 31 days of the span
        moved = F.expr(
            f"timestampadd(SECOND, CAST({newest} + (unix_seconds(ts) - "
            f"unix_seconds(TIMESTAMP '{EPOCH}')) % {31 * DAY} AS INT), "
            f"TIMESTAMP '{EPOCH}')"
        )
        df = df.withColumn(
            "ts", F.when(F.col("id") % 4 != 0, moved).otherwise(F.col("ts"))
        ).withColumn("bi", ((F.col("id") - first) / BATCH_ROWS).cast("int"))
        tmp = path + ".tmp"
        df.repartition("bi").write.mode("overwrite").partitionBy("bi").parquet(tmp)
        _publish(tmp, path)
    return [
        glob.glob(os.path.join(path, f"bi={i}", "*.parquet"))[0]
        for i in range(n_batches)
    ]
