"""Incremental continuous-aggregate maintenance + streaming refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ingestr_spark.datagen import synth_tokens
from ingestr_spark.operators.rollup import rollup_from_raw
from ingestr_spark.retention import AggregateStore
from ingestr_spark.streaming.jobs import refresh_store_availablenow, windowed_counts_stream

ACC = ["source", "bucket", "n_seq", "sum_n_tok", "min_n_tok", "max_n_tok",
       "tok_sum", "tok_min", "tok_max", "qc_ok_cnt"]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*ACC).collect())


@pytest.fixture()
def split_data(spark):
    full = synth_tokens(spark, 4000, max_ntok=64)
    first = full.filter("id % 3 != 0")
    delta = full.filter("id % 3 = 0")
    return full, first, delta


def test_incremental_equals_full_rebuild(spark, split_data, tmp_path):
    full, first, delta = split_data
    store = AggregateStore(spark, str(tmp_path / "inc"))
    store.build_tier("1h", first)
    months = store.incremental_update("1h", delta)
    assert months  # delta touched partitions
    got = _rows(store.read_tier("1h"))
    want = _rows(rollup_from_raw(full, "1h"))
    assert got == want  # incremental merge == recompute from scratch


def test_incremental_idempotent_on_retry(spark, split_data, tmp_path):
    full, first, delta = split_data
    store = AggregateStore(spark, str(tmp_path / "inc2"))
    store.build_tier("1h", first)
    store.incremental_update("1h", delta, job_id="batch-7")
    before = _rows(store.read_tier("1h"))
    months = store.incremental_update("1h", delta, job_id="batch-7")  # replay
    assert months == []  # no-op
    assert _rows(store.read_tier("1h")) == before


def _tree_bytes(path):
    import os

    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )


def test_incremental_merge_writes_o_delta_not_o_month(spark, tmp_path):
    """Merge-on-read (r6): a second merge into an EXISTING hot month writes
    only the delta's bytes — never a rewrite of the month. Verified three
    ways: (a) the job dir's parquet rows equal the delta's tier rows, not
    the month's; (b) the month's snapshot entry is a STACK with the base and
    both deltas appended in order; (c) the recombined read still equals a
    from-scratch rollup."""
    import os

    full = synth_tokens(spark, 6000, max_ntok=64)
    base = full.filter("id % 4 != 0")
    d1 = full.filter("id % 8 = 0")
    d2 = full.filter("id % 8 = 4")
    store = AggregateStore(spark, str(tmp_path / "mor"))
    store.build_tier("1h", base, job_id="j-base")
    base_rows = store.read_tier("1h").count()

    store.incremental_update("1h", d1, job_id="j-d1")
    store.incremental_update("1h", d2, job_id="j-d2")
    for jid, delta in (("j-d1", d1), ("j-d2", d2)):
        job_dir = store.data_path("1h", jid)
        n_written = spark.read.parquet(job_dir).count()
        n_delta_tier = rollup_from_raw(delta, "1h").count()
        assert n_written == n_delta_tier  # (a) wrote the delta, nothing else
        assert n_written < base_rows / 2
        # and byte-wise the job dir is small relative to the base build
        assert _tree_bytes(job_dir) < _tree_bytes(store.data_path("1h", "j-base"))
    # (b) hot months hold ordered stacks [base, d1, d2]
    parts = store.current_snapshot("1h")["partitions"]
    stacked = [m for m, e in parts.items() if isinstance(e, list)]
    assert stacked
    hot = max(stacked, key=lambda m: len(parts[m]))
    jobs_in_order = [d.split("/")[2] for d in parts[hot]]
    assert jobs_in_order[0] == "j-base"
    assert jobs_in_order[1:] == [
        j for j in ("j-d1", "j-d2")
        if os.path.isdir(f"{store.data_path('1h', j)}/p_month={hot}")
    ]
    # (c) the recombined read is exact
    assert _rows(store.read_tier("1h")) == _rows(rollup_from_raw(full, "1h"))
    # compact folds the stacks back to single-dir entries, value-neutrally
    store.compact("1h")
    parts2 = store.current_snapshot("1h")["partitions"]
    assert all(isinstance(e, str) for e in parts2.values())
    assert _rows(store.read_tier("1h")) == _rows(rollup_from_raw(full, "1h"))


def test_streaming_availablenow_refresh(spark, tmp_path):
    inp = str(tmp_path / "in")
    full = synth_tokens(spark, 3000, max_ntok=64)
    full.filter("id < 1500").write.mode("overwrite").parquet(inp)
    refresh_store_availablenow(
        spark, inp, str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    store = AggregateStore(spark, str(tmp_path / "store"))
    n1 = store.read_tier("1h").agg(F.sum("n_seq")).collect()[0][0]
    assert n1 == 1500
    # new files arrive; second drain picks up ONLY the new ones
    full.filter("id >= 1500").write.mode("append").parquet(inp)
    refresh_store_availablenow(
        spark, inp, str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    n2 = store.read_tier("1h").agg(F.sum("n_seq")).collect()[0][0]
    assert n2 == 3000
    # and the merged tier equals a from-scratch rollup
    assert _rows(store.read_tier("1h")) == _rows(rollup_from_raw(full, "1h"))


def test_windowed_counts_stream_plan(spark, tmp_path):
    """Streaming DF builds and runs with watermark + window (semantics of the
    1h tier in append mode)."""
    inp = str(tmp_path / "sin")
    synth_tokens(spark, 500, max_ntok=32).write.mode("overwrite").parquet(inp)
    schema = spark.read.parquet(inp).schema
    stream = spark.readStream.schema(schema).parquet(inp)
    agg = windowed_counts_stream(stream)
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT SUM(n_seq) FROM win_counts").collect()[0][0]
    assert got == 500


def test_incremental_replay_after_crash_between_pointer_and_cleanup(
    spark, split_data, tmp_path, monkeypatch
):
    """Crash AFTER the snapshot (pointer) commit but BEFORE the manifest
    append: the merge is already fully VISIBLE, so the replay must detect
    the committed job via the snapshot log, heal the missing manifest rows,
    and never re-merge the delta (the round-1 double-merge window)."""
    full, first, delta = split_data
    store = AggregateStore(spark, str(tmp_path / "inc3"))
    store.build_tier("1h", first)
    want = _rows(rollup_from_raw(full, "1h"))

    real_log = AggregateStore._log
    calls = {"n": 0}

    def crashing_log(self, tier, rows):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between pointer and cleanup")
        return real_log(self, tier, rows)

    monkeypatch.setattr(AggregateStore, "_log", crashing_log)
    with pytest.raises(RuntimeError):
        store.incremental_update("1h", delta, job_id="batch-9")
    # the pointer committed -> the merge is already visible
    assert _rows(store.read_tier("1h")) == want
    # replay: committed no-op that heals the manifest, never a re-merge
    assert store.incremental_update("1h", delta, job_id="batch-9") == []
    assert _rows(store.read_tier("1h")) == want
    m = store.read_manifest("1h")
    assert m.filter(F.col("job_id") == "batch-9").count() > 0  # healed
    # and a further replay stays a no-op
    assert store.incremental_update("1h", delta, job_id="batch-9") == []
    assert _rows(store.read_tier("1h")) == want


def test_incremental_crash_before_pointer_commit_is_invisible(
    spark, split_data, tmp_path, monkeypatch
):
    """Crash BEFORE the snapshot commit (data files written, pointer not):
    the tier must still read as the PRE-merge state — half-written work is
    unreferenced by construction — and the replay recomputes and commits.
    gc() then collects the crashed job's orphaned files."""
    full, first, delta = split_data
    store = AggregateStore(spark, str(tmp_path / "inc4"))
    store.build_tier("1h", first)
    before = _rows(store.read_tier("1h"))
    want = _rows(rollup_from_raw(full, "1h"))

    real_commit = AggregateStore._commit_snapshot
    calls = {"n": 0}

    def crashing_commit(self, tier, updates, job_id, base=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before pointer commit")
        return real_commit(self, tier, updates, job_id, base=base)

    monkeypatch.setattr(AggregateStore, "_commit_snapshot", crashing_commit)
    with pytest.raises(RuntimeError):
        store.incremental_update("1h", delta, job_id="batch-10")
    # nothing referenced the crashed job's files: reads see the old state
    assert _rows(store.read_tier("1h")) == before
    months = store.incremental_update("1h", delta, job_id="batch-10")
    assert months
    assert _rows(store.read_tier("1h")) == want
    # merge-on-read supersedes NOTHING (the delta appends to the stack; the
    # replay reused and overwrote its own never-referenced crashed dir), so
    # gc has no garbage to collect and reads stay correct
    removed = store.gc("1h", min_age_seconds=0)
    assert removed == []
    assert _rows(store.read_tier("1h")) == want


def test_build_tier_scan_budget_and_cheap_resume(spark, tmp_path):
    """Source-scan budget per build (counted with an accumulator inside a
    mapInPandas passthrough — which also blocks column pruning, so every
    pass counts as a full scan here):

    * fresh build = 1 pass (r7): with no completed months there is nothing
      to skip, so discovery is skipped outright and the single full
      aggregation feeds only the write — the committed months are listed
      from the job's output and the manifest stats are read on the driver
      from the WRITTEN files (no Spark job), not the source (round 1 ran
      the full aggregation three times; rounds 2-6 still paid a separate
      discovery pass);
    * no-op resume = 1 slim discovery pass ONLY — resuming a completed tier
      must never pay the token-statistics aggregation (a persist-first
      version did, costing the full cascade per no-op resume)."""
    import pandas as pd

    n = 1500
    raw = synth_tokens(spark, n, max_ntok=16)
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    spied = raw.mapInPandas(counting, raw.schema)
    store = AggregateStore(spark, str(tmp_path / "scan1"))
    store.build_tier("1d", spied)
    assert acc.value == n  # fresh build: ONE full aggregation only
    assert store.build_tier("1d", spied) == 0  # resume: nothing to do
    assert acc.value == 2 * n  # discovery pass only — no full re-aggregation


def test_stateful_locf_stream_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState LOCF: a null arriving in batch 2 is filled from
    the last value seen in batch 1 — state survives the micro-batch boundary
    through the checkpointed state store."""
    import datetime as dt

    from ingestr_spark.streaming.jobs import stateful_locf_stream

    inp = str(tmp_path / "sin2")
    ckpt = str(tmp_path / "sckpt2")
    outp = str(tmp_path / "sout2")
    schema = "source string, ts timestamp, n_tok double"

    def drain(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(
            spark.read.parquet(inp).schema
        ).option("maxFilesPerTrigger", 1000).parquet(inp)
        q = (
            stateful_locf_stream(stream).writeStream.format("parquet")
            .option("path", outp).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    t = dt.datetime(2024, 1, 1, 0, 0)
    drain([("a", t, 10.0), ("a", t + dt.timedelta(hours=1), None),
           ("b", t, 5.0)])
    drain([("a", t + dt.timedelta(hours=2), None),      # filled from batch 1
           ("a", t + dt.timedelta(hours=3), 20.0),
           ("b", t + dt.timedelta(hours=5), None)])
    got = {(r["source"], r["ts"].isoformat()): (r["n_tok"], r["filled"], r["gap_seconds"])
           for r in spark.read.parquet(outp).collect()}
    assert got[("a", "2024-01-01T00:00:00")] == (10.0, False, None)
    assert got[("a", "2024-01-01T01:00:00")] == (10.0, True, 3600)
    assert got[("a", "2024-01-01T02:00:00")] == (10.0, True, 3600)   # cross-batch
    assert got[("a", "2024-01-01T03:00:00")] == (20.0, False, 3600)
    assert got[("b", "2024-01-01T05:00:00")] == (5.0, True, 5 * 3600)
    assert len(got) == 6


def test_windowed_stream_drops_late_rows_past_watermark(spark, tmp_path):
    """Event-time correctness: once the watermark (2 h) has passed a window's
    end, a late row for that window is DROPPED, and finalized windows emit
    exactly once in append mode."""
    import datetime as dt

    from ingestr_spark.streaming.jobs import windowed_counts_stream

    inp = str(tmp_path / "win_in")
    ckpt = str(tmp_path / "win_ckpt")
    outp = str(tmp_path / "win_out")
    schema = "source string, ts timestamp, n_tok int"

    def drain(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(spark.read.parquet(inp).schema).parquet(inp)
        q = (
            windowed_counts_stream(stream, window="1 hour", watermark="2 hours")
            .writeStream.format("parquet").outputMode("append")
            .option("path", outp).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    t = dt.datetime(2024, 1, 1)
    # batch 1: window 10:00 gets 2 rows; max event time 13:00 -> wm 11:00
    drain([("a", t + dt.timedelta(hours=10, minutes=15), 1),
           ("a", t + dt.timedelta(hours=10, minutes=45), 2),
           ("a", t + dt.timedelta(hours=13), 3)])
    # batch 2: 10:30 is LATE (window end 11:00 <= wm 11:00 -> dropped);
    # 20:00 pushes wm to 18:00, finalizing the 10:00 and 13:00 windows
    drain([("a", t + dt.timedelta(hours=10, minutes=30), 99),
           ("a", t + dt.timedelta(hours=20), 4)])
    got = {r["bucket"].isoformat(): (r["n_seq"], r["sum_n_tok"])
           for r in spark.read.parquet(outp).collect()}
    assert got["2024-01-01T10:00:00"] == (2, 3)   # late row NOT counted
    assert got["2024-01-01T13:00:00"] == (1, 3)
    assert "2024-01-01T20:00:00" not in got       # not yet finalized


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """F.session_window streaming sessions == the batch sessionize operator:
    same (user, session start, event count) triples once every session is
    past the watermark."""
    import datetime as dt

    from ingestr_spark.operators.tsutil import sessionize
    from ingestr_spark.streaming.jobs import session_counts_stream

    inp = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")
    outp = str(tmp_path / "sess_out")
    schema = "user_id bigint, ts timestamp"
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, t), (1, t + dt.timedelta(minutes=10)),              # session A (2 ev)
        (1, t + dt.timedelta(hours=2)),                          # session B (1 ev)
        (2, t + dt.timedelta(minutes=5)),                        # session C (1 ev)
        (2, t + dt.timedelta(hours=8)),                          # finalizer row
        (1, t + dt.timedelta(hours=8)),
    ]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(inp)
    stream = spark.readStream.schema(spark.read.parquet(inp).schema).parquet(inp)
    q = (
        session_counts_stream(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("parquet").outputMode("append")
        .option("path", outp).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["session_start"], r["n_events"])
           for r in spark.read.parquet(outp).collect()}
    # batch truth over the same rows (finalizer sessions not yet emitted by
    # the stream — drop sessions whose last event is past the watermark)
    batch = sessionize(
        spark.createDataFrame(rows, schema), "user_id", "ts", 1800
    )
    per = {
        (r["user_id"], r["start"], r["n"])
        for r in batch.groupBy("user_id", "session_idx").agg(
            F.min("ts").alias("start"), F.count(F.lit(1)).alias("n")
        ).collect()
        if r["start"] < t + dt.timedelta(hours=7)  # finalized sessions only
    }
    assert got == per and len(got) == 3


def test_streaming_cascade_refresh_from_diffs(spark, tmp_path):
    """cascade=True (r5): only the 1h tier merges the raw batch; 1d and 1mo
    refresh from the finer tier's snapshot DIFF via cascade_refresh. Two
    drains must leave every tier equal to a from-scratch rollup, and a full
    re-drain of the same checkpoint must no-op."""
    inp = str(tmp_path / "cin")
    full = synth_tokens(spark, 3000, max_ntok=64)
    full.filter("id < 1500").write.mode("overwrite").parquet(inp)
    root = str(tmp_path / "cstore")
    tiers = ("1h", "1d", "1mo")
    refresh_store_availablenow(
        spark, inp, root, str(tmp_path / "cckpt"), tiers=tiers, cascade=True
    )
    full.filter("id >= 1500").write.mode("append").parquet(inp)
    refresh_store_availablenow(
        spark, inp, root, str(tmp_path / "cckpt"), tiers=tiers, cascade=True
    )
    store = AggregateStore(spark, root)
    for tier in tiers:
        assert _rows(store.read_tier(tier)) == _rows(
            rollup_from_raw(full, tier)
        ), tier
    # re-drain with nothing new: snapshot versions must not move
    vers = {t: store.current_snapshot(t)["version"] for t in tiers}
    refresh_store_availablenow(
        spark, inp, root, str(tmp_path / "cckpt"), tiers=tiers, cascade=True
    )
    assert {t: store.current_snapshot(t)["version"] for t in tiers} == vers


def test_streaming_cascade_crash_between_merge_and_refresh_heals(spark, tmp_path):
    """The cascade sink's replay hole, closed by the snapshot job log: a
    batch that crashes AFTER the 1h merge commit but BEFORE the 1d refresh
    must, on replay, no-op the merge yet still run the missed refresh —
    the diff base (version_of_job - 1) predates the original commit."""
    full = synth_tokens(spark, 2000, max_ntok=64)
    b1, b2 = full.filter("id < 1000"), full.filter("id >= 1000")
    root = str(tmp_path / "chstore")
    store = AggregateStore(spark, root)
    # batch 0 fully applied (the cascade sink's exact sequence)
    store.incremental_update("1h", b1, job_id="stream-1h-0")
    base0 = store.version_of_job("1h", "stream-1h-0")
    store.cascade_refresh("1h", "1d", since_version=base0 - 1,
                          job_id="stream-1d-0")
    # batch 1 crashes between the 1h merge and the 1d refresh
    store.incremental_update("1h", b2, job_id="stream-1h-1")
    # replay after restart: merge no-ops, refresh still runs
    assert store.incremental_update("1h", b2, job_id="stream-1h-1") == []
    base1 = store.version_of_job("1h", "stream-1h-1")
    assert base1 is not None and base1 > base0
    refreshed = store.cascade_refresh("1h", "1d", since_version=base1 - 1,
                                      job_id="stream-1d-1")
    assert refreshed  # the missed refresh happened
    assert _rows(store.read_tier("1d")) == _rows(rollup_from_raw(full, "1d"))
    # second replay: everything no-ops, state already consistent
    assert store.cascade_refresh("1h", "1d", since_version=base1 - 1,
                                 job_id="stream-1d-1") == []
    assert _rows(store.read_tier("1d")) == _rows(rollup_from_raw(full, "1d"))


@pytest.mark.parametrize("cascade", ["refresh", "build_all"])
def test_cascade_rolls_up_stored_rows_without_recombine(
    spark, split_data, tmp_path, monkeypatch, cascade
):
    """Both cascades read the finer tier's stored rows, merge-on-read stack
    included, and rollup_cascade is their only merge: deriving 1d and 1mo
    from a stacked 1h month never calls recombine, and both coarser tiers
    still equal a from-scratch rollup."""
    import ingestr_spark.retention as retention

    full, first, delta = split_data
    store = AggregateStore(spark, str(tmp_path / cascade))
    store.build_tier("1h", first)
    store.incremental_update("1h", delta)
    assert any(isinstance(e, list)
               for e in store.current_snapshot("1h")["partitions"].values())
    calls = []
    real = retention.recombine

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(retention, "recombine", spy)
    if cascade == "refresh":
        store.cascade_refresh("1h", "1d", since_version=0)
        store.cascade_refresh("1d", "1mo", since_version=0)
    else:
        store.build_all(full)
    assert calls == []
    for tier in ("1d", "1mo"):
        assert _rows(store.read_tier(tier)) == _rows(
            rollup_from_raw(full, tier)
        ), tier


def test_build_tier_path_discovery_zero_row_noop_resume(spark, tmp_path):
    """Metadata-level resume discovery (r6, VERDICT r5 #4): over a
    date-partitioned parquet source, candidate months come off the file
    PATHS, so (a) a fresh build pays exactly ONE full-aggregation pass (no
    slim discovery scan at all) and (b) a no-op resume reads ZERO data rows
    (accumulator spy; the r5 slim scan was still O(input) per resume)."""
    n = 1200
    raw = synth_tokens(spark, n, max_ntok=16)
    inp = str(tmp_path / "ptok")
    raw.withColumn(
        "p_month", F.date_format("ts", "yyyy-MM")
    ).write.partitionBy("p_month").parquet(inp)
    src = spark.read.parquet(inp).drop("p_month")
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    spied = src.mapInPandas(counting, src.schema)
    assert spied.inputFiles()  # the spy preserves the file-scan relation
    store = AggregateStore(spark, str(tmp_path / "pstore"))
    built = store.build_tier("1d", spied)
    assert built > 0
    assert acc.value == n          # ONE full pass; no discovery scan
    assert store.build_tier("1d", spied) == 0
    assert acc.value == n          # no-op resume: ZERO rows read
    # the cascade reads the store's own p_month-partitioned layout, so the
    # coarser tier gets path discovery for free too
    built_mo = store.build_tier("1mo", store.read_tier("1d"), from_tier="1d")
    assert built_mo > 0
    assert store.build_tier("1mo", store.read_tier("1d"), from_tier="1d") == 0
    assert acc.value == n


def test_build_tier_path_vs_scan_discovery_equivalence(spark, tmp_path):
    """Partitioned (path-discovered) and unpartitioned (slim-scan) builds of
    the same rows must produce identical stores: same committed months, same
    tier rows, same manifest mass."""
    raw = synth_tokens(spark, 1500, max_ntok=16)
    inp = str(tmp_path / "ptok2")
    raw.withColumn(
        "p_day", F.to_date("ts")
    ).coalesce(2).write.partitionBy("p_day").parquet(inp)
    part_src = spark.read.parquet(inp).drop("p_day")

    s_path = AggregateStore(spark, str(tmp_path / "st_path"))
    s_scan = AggregateStore(spark, str(tmp_path / "st_scan"))
    n_path = s_path.build_tier("1d", part_src)
    n_scan = s_scan.build_tier("1d", raw)  # in-memory: scan fallback
    assert n_path == n_scan > 0
    assert sorted(s_path.current_snapshot("1d")["partitions"]) == sorted(
        s_scan.current_snapshot("1d")["partitions"]
    )
    assert _rows(s_path.read_tier("1d")) == _rows(s_scan.read_tier("1d"))
    # the path months are the months the build realized
    assert AggregateStore._months_from_input_files(part_src) == set(
        s_path.current_snapshot("1d")["partitions"])
    # opt-out flag forces the scan fallback and produces the same store
    s_off = AggregateStore(spark, str(tmp_path / "st_off"))
    assert s_off.build_tier("1d", part_src, discover_from_paths=False) == n_path
    assert _rows(s_off.read_tier("1d")) == _rows(s_path.read_tier("1d"))


def test_fold_hot_stacks_bounds_depth(spark, tmp_path):
    """r6: a hot month taking one merge-on-read delta per batch must have
    its stack folded once it exceeds max_depth — values stay exact and the
    folded months collapse to single-dir entries; shallow months are left
    alone (the fold costs only the DEEP months)."""
    full = synth_tokens(spark, 2400, max_ntok=16)
    slices = [full.filter(f"id % 6 = {k}") for k in range(6)]
    store = AggregateStore(spark, str(tmp_path / "fold"))
    store.build_tier("1h", slices[0])
    for i, sl in enumerate(slices[1:], 1):
        store.incremental_update("1h", sl, job_id=f"fb-{i}")
    parts = store.current_snapshot("1h")["partitions"]
    depth = {m: len(AggregateStore._entry_dirs(e)) for m, e in parts.items()}
    assert max(depth.values()) == 6  # base + 5 deltas
    assert store.fold_hot_stacks("1h", max_depth=8) == []  # nothing deep
    folded = store.fold_hot_stacks("1h", max_depth=3)
    assert folded == sorted(m for m, d in depth.items() if d > 3)
    parts2 = store.current_snapshot("1h")["partitions"]
    for m in folded:
        assert isinstance(parts2[m], str)
    for m, e in parts2.items():
        if m not in folded:
            assert e == parts[m]  # shallow months untouched
    assert _rows(store.read_tier("1h")) == _rows(rollup_from_raw(full, "1h"))
