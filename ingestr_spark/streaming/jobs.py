"""Structured Streaming maintenance of the continuous-aggregate store.

The reference is batch-only (SURVEY §2.10: no watermarks / stateful
streaming); its closest analog is the incremental CSV cache (S12). This
module maps that to Spark's native incremental machinery:

* file-source ``readStream`` over the token-table directory (new parquet
  files = new micro-batch),
* ``Trigger.AvailableNow`` — process everything available, then stop
  (the batch-refresh cadence the north rule's jobs use; a live cluster
  would use a processing-time trigger instead),
* ``foreachBatch`` → :meth:`AggregateStore.incremental_update` keyed by the
  streaming ``batchId``, so retried batches are idempotent (exactly-once
  tier maintenance on top of the at-least-once sink contract; the merge is
  crash-safe through its stage-then-swap commit protocol — see
  incremental_update's docstring — so a batch that dies between the
  partition swap and the manifest append reconciles instead of
  double-merging on replay),
* with ``cascade=True`` the 1h→1d→1mo chain refreshes inside the same
  batch from each finer tier's snapshot DIFF (``cascade_refresh``) — the
  coarser recompute touches bounded tier rows, never raw, and the diff
  base is recovered from the snapshot job log so a crash mid-chain heals
  on replay.

A watermark + window variant (for true event-time lateness handling) is
:func:`windowed_counts_stream` — used where per-(source, window) counts are
needed as a stream rather than a maintained table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestr_spark.operators.rollup import ACC_COLS, _raw_aggs
from ingestr_spark.retention import AggregateStore


def refresh_store_availablenow(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint: str,
    schema=None,
    tiers: tuple[str, ...] = ("1h",),
    cascade: bool = False,
    fold_depth: int | None = 16,
) -> None:
    """Drain all unprocessed input files into the aggregate store, then stop.

    Resume = re-run: the checkpoint remembers which files were consumed, the
    manifest job_id (= batch id) makes replayed batches no-ops.

    ``cascade=False`` (default): every tier merges the RAW batch
    independently (each re-aggregates the batch rows). ``cascade=True``
    (r5): only ``tiers[0]`` merges raw; each coarser tier then refreshes
    via :meth:`AggregateStore.cascade_refresh` from the finer tier's
    snapshot DIFF — the coarser recompute touches bounded tier rows, never
    the raw batch, which is the shape that holds at 10^12-sequence scale.
    Replay safety: the diff base is recovered from the snapshot job log
    (``version_of_job(finer, <this batch's job id>) - 1``), so a crash
    BETWEEN the finer merge and a coarser refresh heals on replay — the
    merge no-ops, but the diff base still predates it, so the missed
    refresh runs; a fully-applied batch replays as all no-ops via the
    per-tier job ids.

    ``fold_depth`` (r6): merges are MERGE-ON-READ (one delta dir appended
    per batch), so after each drain any month whose stack grew past this
    depth is folded back to one dir (:meth:`AggregateStore.fold_hot_stacks`)
    — the hot current month's read amplification stays bounded no matter
    how long the stream runs. None disables (rely on explicit --compact).
    """
    if schema is None:
        schema = spark.read.parquet(input_path).schema  # StructType, not DDL
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    store = AggregateStore(spark, store_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not cascade:
            for tier in tiers:
                store.incremental_update(
                    tier, batch_df, job_id=f"stream-{tier}-{batch_id}"
                )
            return
        store.incremental_update(
            tiers[0], batch_df, job_id=f"stream-{tiers[0]}-{batch_id}"
        )
        for finer, coarser in zip(tiers, tiers[1:]):
            base = store.version_of_job(finer, f"stream-{finer}-{batch_id}")
            if base is None:
                # genuinely never committed (empty batch): job records are
                # durable, so gc expiry cannot masquerade as this case
                break
            store.cascade_refresh(
                finer, coarser, since_version=base - 1,
                job_id=f"stream-{coarser}-{batch_id}",
            )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if fold_depth is not None:
        # post-drain maintenance, outside the sink: folding once per DRAIN
        # (not per batch) amortizes the rewrite and cannot interleave with
        # this driver's own in-flight merges. r7 (ADVICE r6): a CAS loss to
        # a CONCURRENT committer (another process's compact/merge landing
        # between this fold's pinned read and its commit) is retried once
        # against the new snapshot, then skipped — the fold is layout-only
        # maintenance and re-arms at the next drain cadence
        # (fold_hot_stacks' documented "safe to skip and retry" contract;
        # previously the FileExistsError aborted the whole drain run).
        for tier in tiers:
            try:
                store.fold_hot_stacks(tier, max_depth=fold_depth)
            except FileExistsError:
                try:
                    store.fold_hot_stacks(tier, max_depth=fold_depth)
                except FileExistsError:
                    pass  # next drain retries


def stateful_locf_stream(
    raw_stream: DataFrame,
    value_col: str = "n_tok",
    key: str = "source",
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    per-key last-observation-carried-forward across micro-batches.

    The batch LOCF (operators/gapfill.py) becomes streaming state: the last
    non-null (value, ts) per key lives in the state store, survives batch
    boundaries and restarts (checkpointed), and each arriving row is emitted
    with nulls filled from the carried value plus the gap to the previous
    observation. This is the streaming analog of W3/G2 and the pattern for
    any custom stateful operator the built-in windowed aggregates can't
    express (the task's applyInPandasWithState mandate).

    Rows inside one micro-batch are processed in event-time order; state is
    one (double, long) pair per key — O(keys) store, no unbounded growth,
    so NoTimeout is safe. ``tiebreak`` (r6) names an extra long column that
    breaks event-time ties (and is passed through to the output): without
    it, two rows sharing a timestamp are LOCF'd in arrival order, which is
    nondeterministic across partitionings — the driver hash gate needs a
    total order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} string, {ts_col} timestamp, {value_col} double, "
        "filled boolean, gap_seconds long"
        + (f", {tiebreak} long" if tiebreak else "")
    )
    state_schema = "last_v double, last_ts long"
    order_cols = [ts_col, tiebreak] if tiebreak else [ts_col]

    def fn(key_tuple, pdf_iter, state: GroupState):
        last_v, last_ts = state.get if state.exists else (None, None)
        frames = [p for p in pdf_iter if len(p)]
        if not frames:
            empty = {key: [], ts_col: pd.Series([], dtype="datetime64[ns]"),
                     value_col: [], "filled": pd.Series([], dtype=bool),
                     "gap_seconds": pd.Series([], dtype="int64")}
            if tiebreak:
                empty[tiebreak] = pd.Series([], dtype="int64")
            yield pd.DataFrame(empty)
            return
        pdf = pd.concat(frames).sort_values(order_cols)
        v = pdf[value_col].astype("float64")
        filled = v.isna()
        # vectorized LOCF with the carried state prepended as a sentinel
        carried = pd.concat(
            [pd.Series([last_v], dtype="float64"), v], ignore_index=True
        ).ffill()
        vals = carried.iloc[1:].reset_index(drop=True)
        t = (pd.to_datetime(pdf[ts_col]).astype("int64") // 1_000_000_000)
        t = t.reset_index(drop=True)
        prev_t = t.shift(1)
        if last_ts is not None:
            prev_t.iloc[0] = last_ts
        gaps = (t - prev_t).astype("Int64")
        new_last_v = v.dropna().iloc[-1] if v.notna().any() else last_v
        state.update((None if pd.isna(new_last_v) else float(new_last_v),
                      int(t.iloc[-1])))
        out = {
            key: pdf[key].iloc[0], ts_col: pdf[ts_col].reset_index(drop=True),
            value_col: vals, "filled": filled.reset_index(drop=True),
            "gap_seconds": gaps,
        }
        if tiebreak:
            out[tiebreak] = pdf[tiebreak].reset_index(drop=True)
        yield pd.DataFrame(out)

    return raw_stream.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def windowed_counts_stream(
    raw_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "source",
) -> DataFrame:
    """Event-time windowed aggregation with late-data watermarking — the
    streaming form of the 1h tier, with a tier row's first four (``n_tok``)
    accumulators. Append-mode-compatible (final counts emitted once the
    watermark passes the window end)."""
    return (
        raw_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key))
        .agg(*_raw_aggs()[:4])
        .select(key, F.col("win.start").alias("bucket"), *ACC_COLS[:4])
    )


def session_counts_stream(
    raw_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Native session windows (``F.session_window``) — the STREAMING form of
    operators/tsutil.sessionize: a session closes when no event arrives for
    ``gap``; with a watermark the state store evicts closed sessions, so
    per-key state stays bounded no matter how long the stream runs
    (append-mode-compatible: a session emits once finalized)."""
    return (
        raw_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
