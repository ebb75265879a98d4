"""Tiered retention store: continuous-aggregate tables, checkpoint/resume,
per-partition lineage + metrics (north-rule mandates; reference analog is the
read-if-exists CSV cache, R/ingest_modis_bysite.R:98-103, S12 in SURVEY §2.1).

Storage follows the Iceberg SNAPSHOT shape (without the runtime jars), which
is what makes the commit protocol OBJECT-STORE SAFE — no in-place directory
mutation anywhere on the read or commit path:

* **Data files are immutable.** Every job writes its output under its own
  ``data/<tier>/<job_id>/p_month=*/`` directory and never rewrites, renames,
  or deletes another job's files. Unique paths need no rename support —
  exactly how Iceberg writers target S3-class stores.
* **Readers resolve partitions through a snapshot pointer.** The current
  table state is the highest-numbered ``snapshots/<tier>/v<N>.json`` — a map
  from ``p_month`` to the immutable data that currently owns it: ONE
  directory (a fully built/compacted month) or an ordered directory STACK
  ``[base, delta, delta, ...]`` (merge-on-read, r6). A half-written job is
  invisible: nothing references its files until the snapshot commit.
* **Incremental merges are MERGE-ON-READ (r6).** ``incremental_update``
  writes ONLY the delta aggregate and appends its month dirs to each
  affected month's stack — write cost O(delta), never O(month) (the r5
  copy-on-write rewrite amplified every hot-month micro-batch to a full
  month rewrite). ``read_tier`` recombines a stacked month algebraically
  on read (integer accumulators, order-independent, bit-identical to an
  eager merge), and :meth:`compact` is where stacks fold back into one
  base dir — exactly Iceberg's merge-on-read delete-file + rewrite split.
  Compaction cadence bounds a stack's depth and hence read amplification.
* **Commit = publish one new snapshot file.** The new version is created
  with a CREATE-EXCLUSIVE link (fails loudly if the version already exists —
  optimistic concurrency; on a real object store this is the catalog's
  conditional PUT / compare-and-swap). Crash BEFORE the commit leaves the
  table untouched; crash AFTER leaves only unreferenced garbage, healed by
  :meth:`gc`. There is no partially-visible state by construction.
* **Retention drops are metadata-only**: a new snapshot without the expired
  months. The files become unreferenced and are collected later — Iceberg's
  ``DELETE WHERE`` + expire-snapshots split.
* **Compaction is a metadata re-point too (r5).** :meth:`compact` rewrites
  a month's accumulated per-batch small files into one coalesced immutable
  dir (Iceberg's ``rewrite_data_files``) and publishes it with the same
  single-snapshot commit; the old dirs simply become unreferenced.
* **Time travel + incremental scan come free (r5).** Any snapshot inside
  :meth:`gc`'s ``keep_snapshots`` window is fully readable
  (``read_tier(version=N)`` — Iceberg's ``VERSION AS OF``), two snapshots
  diff by pointer comparison alone (:meth:`snapshot_diff`), and
  :meth:`read_changes` yields the added/changed month-partitions between two
  versions (Iceberg's incremental read, at copy-on-write month granularity).
  Reading an expired version fails loudly with the retained window.
* **gc vs in-flight writers (r5)**: a job's data dirs are unreferenced
  until its snapshot links, so :meth:`gc` skips unreferenced dirs younger
  than ``min_age_seconds`` (default 3 days — Iceberg's remove_orphan_files
  ``older_than`` default), and :meth:`_commit_snapshot` aborts LOUDLY if a
  dir it is about to reference has vanished (a zero-grace gc racing a live
  committer). Concurrent committers racing the same version are decided by
  the create-exclusive link: exactly one wins, the loser gets
  FileExistsError — verified across real separate processes in tests.

Layout:
    <root>/data/<tier>/<job_id>/p_month=YYYY-MM/part-*.parquet  (immutable)
    <root>/snapshots/<tier>/v<N>.json                           (immutable)
    <root>/manifest/<tier>/part-*.parquet   (append-only lineage log)

Manifest row = one completed partition:
    (tier, p_month, n_rows, sum_n_seq, wall_ms, job_id, completed_at)
The manifest is lineage only. Retention verifies from the tiers' own rows:
:meth:`AggregateStore.verify_cascade` recomputes each month's sum of
``n_seq`` in the finer and the coarser tier, and
:meth:`AggregateStore.apply_retention` drops a finer month only when the
two agree.

Only the tiers of :data:`TIER_CHAIN` are stored: their buckets never leave
the row's calendar month, which month-partitioned writes, path month
discovery and month-wise cascades all rely on. A week bucket can start in
the previous month and a year bucket lands in January, so ``1w``/``1y``
(and ``1w_ref``) are rollups for callers, not store tiers.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestr_spark.operators.rollup import (
    ACC_COLS,
    ACCUMULATORS,
    _derived,
    recombine,
    rollup_cascade,
    rollup_from_raw,
)

TIER_CHAIN = ["1h", "1d", "1mo"]


#: the fixed lineage-manifest schema (written by ``_log``; declaring it in
#: :meth:`AggregateStore.read_manifest` skips parquet schema inference. The
#: commit, replay and resume paths read the files with pyarrow instead)
MANIFEST_SCHEMA = (
    "p_month string, n_rows long, sum_n_seq long, wall_ms long, "
    "job_id string, completed_at double"
)

#: the columns every data dir stores: the key and the integer rollup
#: accumulators (:data:`STORED_SCHEMA`), nothing derived from them
STORED_COLS = ["source", "bucket", *ACC_COLS]
#: the fixed schema of the stored columns, in written order, with the
#: accumulators' stored types from
#: :data:`~ingestr_spark.operators.rollup.ACCUMULATORS`. Declaring it at
#: read time skips parquet schema inference, which cost one Spark job per
#: tier and read shape on every fresh store object (the streaming sink
#: opens one per drain). Stacked months are read from their leaf dirs,
#: without a partition column; single-dir months are read under a
#: basePath and get p_month from the directory name. Dirs written before
#: the store dropped the derived doubles still hold ``avg_n_tok``/
#: ``qc_frac``; the declared schema does not list them, so those dirs read
#: like new ones.
STORED_SCHEMA = ", ".join(
    ["source string", "bucket timestamp",
     *(f"{c} {t}" for c, (_, _, t) in ACCUMULATORS.items())]
)
#: what :meth:`AggregateStore.read_tier` and ``read_changes`` return: the
#: stored columns, ``avg_n_tok`` and ``qc_frac`` derived on read from the
#: integer sums (:func:`~ingestr_spark.operators.rollup._derived`), and
#: the month partition
TIER_SCHEMA_BASEPATH = (
    STORED_SCHEMA + ", avg_n_tok double, qc_frac double, p_month string"
)


def _as_stored(df: DataFrame) -> DataFrame:
    """A tier frame in the store's layout: the stored columns and the
    ``p_month`` partition of each bucket. Every data write goes through
    here, and so does the stacked-month read before the doubles are
    derived."""
    return df.selectExpr(*STORED_COLS, "date_format(bucket, 'yyyy-MM') AS p_month")


def _data_files(d: str) -> list[str]:
    """The files of a data or manifest dir that Spark reads: every name
    not starting with ``.`` or ``_`` (skips ``_SUCCESS``, ``.crc`` files
    and ``.tmp-*`` staging)."""
    return [
        f"{d}/{name}" for name in sorted(os.listdir(d))
        if not name.startswith((".", "_"))
    ]


def _month_post_state(dirs: list[str]) -> tuple[int, int]:
    """``(n_rows, sum_n_seq)`` of one month as :meth:`AggregateStore.read_tier`
    returns it, from the parquet files of its dirs, on the driver. A
    single dir holds one row per (source, bucket), so ``n_rows`` is its
    row count; a merge-on-read stack recombines to one row per distinct
    (source, bucket) over all its dirs. ``sum_n_seq`` sums every stored
    row, as ``recombine`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols = ["n_seq"] if len(dirs) == 1 else ["source", "bucket", "n_seq"]
    # one schema across writers: timestamp encodings and nullability differ
    types = {"source": pa.string(), "bucket": pa.timestamp("us"), "n_seq": pa.int64()}
    schema = pa.schema([(c, types[c]) for c in cols])
    tables = [
        pq.read_table(f, columns=cols).cast(schema)
        for d in dirs for f in _data_files(d)
    ]
    if not tables:
        return 0, 0
    t = pa.concat_tables(tables)
    n_rows = (
        t.num_rows if len(dirs) == 1
        else t.group_by(["source", "bucket"]).aggregate([]).num_rows
    )
    return n_rows, pc.sum(t["n_seq"]).as_py() or 0


class AggregateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # ---- paths ----------------------------------------------------------
    def data_path(self, tier: str, job_id: str) -> str:
        return f"{self.root}/data/{tier}/{job_id}"

    def snapshots_path(self, tier: str) -> str:
        return f"{self.root}/snapshots/{tier}"

    def manifest_path(self, tier: str) -> str:
        return f"{self.root}/manifest/{tier}"

    def jobs_path(self, tier: str) -> str:
        return f"{self.root}/jobs/{tier}"

    # ---- snapshot pointer (the commit mechanism) --------------------------
    def _rel(self, path: str) -> str:
        """Root-relative form of a data dir for storage INSIDE a snapshot.
        Snapshots must be relocatable: a store moved/symlinked/reopened under
        a different root spelling must still resolve (and gc must still
        recognize) its own committed data, so snapshots never embed the root."""
        p = path.rstrip("/")
        prefix = self.root + "/"
        return p[len(prefix):] if p.startswith(prefix) else p

    def _resolve(self, path: str) -> str:
        """Absolute path for a snapshot entry; absolute entries (legacy
        pre-relative snapshots) pass through unchanged."""
        return path if os.path.isabs(path) else f"{self.root}/{path}"

    @staticmethod
    def _entry_dirs(entry) -> list[str]:
        """A snapshot partition entry is either ONE data dir (str — a fully
        built or compacted month) or an ordered dir STACK
        ``[base, delta, ...]`` (merge-on-read, r6). None (month absent)
        normalizes to []. Strings stay the canonical single-dir form, so
        pre-r6 snapshots read unchanged."""
        if entry is None:
            return []
        return [entry] if isinstance(entry, str) else list(entry)

    def _snapshot_versions(self, tier: str) -> list[int]:
        d = self.snapshots_path(tier)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def snapshot(self, tier: str, version: int | None = None) -> dict:
        """Load one committed snapshot — the latest when ``version`` is None,
        else exactly ``v<version>.json``. Version 0 is the canonical empty
        state (a tier never written, or "before everything" as a diff base).
        A version that never existed or was expired by :meth:`gc` raises
        with the retained window spelled out, so time-travel misses are loud
        rather than silently reading the wrong state."""
        versions = self._snapshot_versions(tier)
        if version is None:
            version = versions[-1] if versions else 0
        if version == 0:
            return {"version": 0, "partitions": {}, "job_id": None}
        if version not in versions:
            raise FileNotFoundError(
                f"tier {tier}: snapshot v{version} not found — retained "
                f"versions are {versions or '[]'} (expired by gc, or never "
                "committed)"
            )
        with open(f"{self.snapshots_path(tier)}/v{version}.json") as fh:
            return json.load(fh)

    def current_snapshot(self, tier: str) -> dict:
        """Latest committed snapshot; {} partitions when the tier has never
        been written."""
        return self.snapshot(tier)

    @staticmethod
    def _check_job_id(job_id: str) -> str:
        """Job ids become data-dir names and job-record filenames, so they
        must be a single path segment. Checked where a job_id ENTERS (the
        public committing ops + _commit_snapshot), i.e. BEFORE any data is
        written or any snapshot links — an id rejected after the commit
        point would leave published state behind the error."""
        if (not job_id or "/" in job_id or os.sep in job_id
                or job_id.startswith(".tmp-") or job_id in (".", "..")):
            raise ValueError(f"job_id {job_id!r} is not filename-safe")
        return job_id

    @staticmethod
    def _check_tier(*tiers: str) -> None:
        """Only the :data:`TIER_CHAIN` tiers are stored (module docstring):
        checked where a data-writing op starts, before anything is
        written."""
        for t in tiers:
            if t not in TIER_CHAIN:
                raise ValueError(
                    f"tier {t!r} is not a store tier (one of {TIER_CHAIN})")

    def _record_job(
        self, tier: str, job_id: str, version: int,
        committed_at: float | None = None,
    ) -> None:
        """Write the DURABLE per-job commit record (``jobs/<tier>/<id>.json``,
        immutable once the job is done): job ids must survive snapshot
        expiry, or a gc between a crash and its replay would let an
        already-applied batch double-merge. ``os.replace`` is atomic, and an
        existing record holding a >= version is left alone (r6) — so even a
        healing writer racing another recorder cannot regress the recorded
        version (job ids are single-commit by contract; this guard makes the
        higher-version-wins semantics true rather than last-writer-wins).
        The read-check-then-replace pair is NOT atomic (ADVICE r6): two
        racing healers can interleave (A reads no record, B writes v7, A
        replaces with v3), so higher-version-wins is best-effort under
        concurrent healing — safe because every competing writer for one
        job id writes the SAME version on the non-heal path (single-commit
        contract), and heals only ever rebuild a record the snapshot scan
        already witnessed.
        ``committed_at`` preserves the ORIGINAL commit time when a heal
        rebuilds a record after the fact."""
        self._check_job_id(job_id)
        jd = self.jobs_path(tier)
        existing = f"{jd}/{job_id}.json"
        if os.path.exists(existing):
            try:
                with open(existing) as fh:
                    if json.load(fh).get("version", -1) >= version:
                        return
            except (OSError, ValueError):
                pass  # unreadable/corrupt record: rewrite it below
        os.makedirs(jd, exist_ok=True)
        tmp = f"{jd}/.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"version": version,
                       "committed_at": committed_at or time.time()}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, f"{jd}/{job_id}.json")

    def committed_job_ids(self, tier: str) -> set[str]:
        """Every job that ever committed a snapshot — the exactly-once
        source of truth (the manifest is lineage/metrics). Reads the durable
        job records (r5: these survive :meth:`gc` snapshot expiry) unioned
        with the retained snapshot files (older stores have no job records;
        a crash between snapshot link and record write leaves the snapshot
        as the only witness until :meth:`version_of_job` heals it)."""
        out = set()
        jd = self.jobs_path(tier)
        if os.path.isdir(jd):
            out.update(
                f[:-5] for f in os.listdir(jd)
                if f.endswith(".json") and not f.startswith(".tmp-")
            )
        for v in self._snapshot_versions(tier):
            with open(f"{self.snapshots_path(tier)}/v{v}.json") as fh:
                j = json.load(fh).get("job_id")
            if j:
                out.add(j)
        return out

    def version_of_job(self, tier: str, job_id: str) -> int | None:
        """The snapshot version committed by ``job_id`` (None if the job
        never committed). O(1) via the durable job record, which survives
        snapshot expiry (r5); falls back to scanning retained snapshots for
        pre-record stores or a crash between snapshot link and record
        write, and heals the record when the scan finds one. Lets a
        replayed orchestration recover the exact pre/post state of its own
        earlier commit — e.g. the streaming cascade uses (version - 1) as
        the diff base so a crash between a finer-tier merge and the coarser
        refresh is healed instead of silently skipped. (The DIFF still
        needs snapshot v-1 retained; gc past an unfinished batch's base
        makes the cascade fail loudly, never silently.)"""
        rec = f"{self.jobs_path(tier)}/{job_id}.json"
        if os.path.exists(rec):
            with open(rec) as fh:
                return json.load(fh)["version"]
        out, out_committed_at = None, None
        for v in reversed(self._snapshot_versions(tier)):
            with open(f"{self.snapshots_path(tier)}/v{v}.json") as fh:
                sj = json.load(fh)
            if sj.get("job_id") == job_id:
                out, out_committed_at = v, sj.get("committed_at")
                break
        if out is not None:
            # heal preserves the ORIGINAL commit time (r6 — matches gc's
            # heal-before-expire), not the heal time
            self._record_job(tier, job_id, out, committed_at=out_committed_at)
        return out

    def _commit_snapshot(
        self,
        tier: str,
        updates: dict[str, str | list[str] | None],
        job_id: str,
        base: dict | None = None,
    ) -> dict:
        """Publish snapshot v(N+1) = ``base`` partitions patched by
        ``updates`` (month -> data dir, dir stack, or None to drop the
        month). The file is written to a unique temp name then linked to its
        final version name with a create-exclusive primitive — a concurrent
        committer of the same version fails loudly instead of silently
        clobbering (the link models Iceberg's CAS commit).

        ``base`` (r6) is the snapshot the CALLER's computation was derived
        from; when given, the new version is base.version + 1, so an
        interleaved commit by anyone else (another merge, a compaction, a
        retention drop) makes THIS link fail with FileExistsError instead of
        publishing state computed against a superseded snapshot — the
        optimistic-concurrency loser loses loudly and simply reruns its op
        against the new current snapshot. Defaults to the current snapshot
        (direct low-level callers keep the minimal race window they had)."""
        self._check_job_id(job_id)
        cur = base if base is not None else self.current_snapshot(tier)
        parts = dict(cur["partitions"])
        for month, d in updates.items():
            if d is None:
                parts.pop(month, None)
            else:
                dirs = [self._rel(x) for x in self._entry_dirs(d)]
                parts[month] = dirs[0] if len(dirs) == 1 else dirs
        snap = {
            "version": cur["version"] + 1,
            "partitions": dict(sorted(parts.items())),
            "job_id": job_id,
            "committed_at": time.time(),
        }
        # Loud-commit interlock (r5): every data dir this snapshot is about
        # to reference must still exist. An aggressive gc(min_age_seconds=0)
        # racing an in-flight committer can collect a written-but-uncommitted
        # job dir (it is unreferenced until this very link); publishing the
        # pointer anyway would be SILENT corruption surfacing only at read
        # time. The grace window in gc() prevents the race by default; this
        # check makes the remaining misuse loud at the committer.
        for month, upd in updates.items():
            for d in self._entry_dirs(upd):
                if not os.path.isdir(self._resolve(self._rel(d))):
                    raise RuntimeError(
                        f"commit aborted for {tier}/{month}: data dir {d} "
                        "vanished before snapshot publish — concurrent gc "
                        "with min_age_seconds=0 against an in-flight job, or "
                        "a wrong path; nothing was published"
                    )
        d = self.snapshots_path(tier)
        os.makedirs(d, exist_ok=True)
        tmp = f"{d}/.tmp-{uuid.uuid4().hex}"
        final = f"{d}/v{snap['version']}.json"
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # fails if the version already exists (CAS)
        finally:
            os.unlink(tmp)
        # durable job record AFTER the commit point: replay detection must
        # survive gc's snapshot expiry (a crash landing between link and
        # record is healed by version_of_job's snapshot-scan fallback and
        # by gc's heal-before-expire pass)
        self._record_job(tier, job_id, snap["version"])
        return snap

    # ---- manifest (lineage + metrics) ------------------------------------
    def read_manifest(self, tier: str) -> DataFrame | None:
        path = self.manifest_path(tier)
        if not os.path.exists(path):
            return None
        df = self.spark.read.schema(MANIFEST_SCHEMA).parquet(path)
        return df if df.columns else None

    def _manifest_values(self, tier: str, column: str) -> set:
        """The distinct values of one manifest column, read on the driver
        from the files :meth:`_log` writes — no Spark job on the commit,
        replay and resume paths."""
        import pyarrow.parquet as pq

        path = self.manifest_path(tier)
        if not os.path.isdir(path):
            return set()
        return {
            v for f in _data_files(path)
            for v in pq.read_table(f, columns=[column])[column].unique().to_pylist()
        }

    def completed_months(self, tier: str) -> set[str]:
        return self._manifest_values(tier, "p_month")

    def _log(self, tier: str, rows: list[dict]) -> None:
        """Append lineage rows with the unique-file-name discipline the
        data-dir commits use: write a private temp file, then one atomic
        ``os.rename`` into the manifest dir under a fresh unique name — so
        concurrent appenders never share a path and readers never see a
        partial file (a plain Spark ``mode("append")`` stages every
        concurrent job under the SAME ``_temporary/0`` dir and two
        committers delete each other's task files — r6 stress-test find).

        r7: the file is written DRIVER-SIDE with pyarrow instead of a
        ``coalesce(1)`` Spark write — the rows are a handful of per-month
        stats already sitting on the driver, and the Spark job existed only
        to serialize them (one scheduler round-trip + output commit per
        append; measured ~0.3-0.5 s each on the store lifecycle path).
        Parquet-level schema is identical (string/int64/float64 columns),
        so Spark reads the manifest exactly as before."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "p_month": pa.array([r["p_month"] for r in rows], pa.string()),
                "n_rows": pa.array([r["n_rows"] for r in rows], pa.int64()),
                "sum_n_seq": pa.array([r["sum_n_seq"] for r in rows], pa.int64()),
                "wall_ms": pa.array([r["wall_ms"] for r in rows], pa.int64()),
                "job_id": pa.array([r["job_id"] for r in rows], pa.string()),
                "completed_at": pa.array(
                    [r["completed_at"] for r in rows], pa.float64()
                ),
            }
        )
        dest = self.manifest_path(tier)
        os.makedirs(dest, exist_ok=True)
        tmp = f"{dest}/.tmp-{uuid.uuid4().hex}"
        pq.write_table(table, tmp)
        os.rename(tmp, f"{dest}/{uuid.uuid4().hex}.parquet")

    # ---- reads ------------------------------------------------------------
    def _read_data_dirs(self, dirs: list[str], base_path: str | None) -> DataFrame:
        """Read a set of month data dirs under the declared stored schema
        (:data:`STORED_SCHEMA`). With ``base_path`` the p_month partition
        column is derived from the directory names (single-dir months);
        without it the given paths ARE the leaf month dirs and no partition
        column appears (stacked months)."""
        if base_path is None:
            return self.spark.read.schema(STORED_SCHEMA).parquet(*sorted(dirs))
        return (
            self.spark.read.option("basePath", base_path)
            .schema(STORED_SCHEMA + ", p_month string").parquet(*sorted(dirs))
        )

    def _month_dirs(
        self, tier: str, months: list[str] | None, version: int | None = None
    ) -> list[list[str]]:
        """The absolute data dirs of each selected month of a snapshot: one
        dir, or a merge-on-read stack. Raises FileNotFoundError when no
        month is selected."""
        parts = self.snapshot(tier, version)["partitions"]
        if months is not None:
            parts = {m: e for m, e in parts.items() if m in months}
        if not parts:
            raise FileNotFoundError(
                f"tier {tier}: no committed partitions"
                + (f" at snapshot v{version}" if version is not None else "")
            )
        return [
            [self._resolve(d) for d in self._entry_dirs(e)]
            for e in parts.values()
        ]

    def _read_stored(self, tier: str, months: list[str] | None = None) -> DataFrame:
        """The selected months' STORED rows: every dir of every stack,
        unmerged (several partial rows per (source, bucket) in a stacked
        month). The cascades' input; ``rollup_cascade`` is their merge."""
        dirs = [d for month in self._month_dirs(tier, months) for d in month]
        return self._read_data_dirs(dirs, base_path=None)

    def read_tier(
        self,
        tier: str,
        months: list[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Resolve the tier through a snapshot — the current one by default,
        or a retained historical one via ``version`` (TIME TRAVEL: Iceberg's
        ``VERSION AS OF``). ``months`` prunes at the METADATA level —
        unselected partitions never even enter the plan (the snapshot is the
        partition index, like Iceberg manifests). Data dirs are immutable and
        :meth:`gc` only deletes dirs unreferenced by every RETAINED snapshot,
        so any version that still loads resolves to live files.

        Merge-on-read (r6): a month whose entry is a dir STACK (base +
        per-batch deltas) is recombined algebraically here — the partial
        rows collapse to one row per (source, bucket), bit-identical to an
        eager merge (integer accumulators). Single-dir months take the
        direct-scan fast path, so a fully compacted store pays nothing; the
        recombine shuffle is over TIER rows of the stacked months only
        (bounded by keys × calendar buckets, never raw-scale), and
        compaction cadence bounds stack depth.

        The store holds only the integer accumulators; ``avg_n_tok`` and
        ``qc_frac`` are derived once, over the union of both read shapes,
        by the expression every rollup uses (:data:`TIER_SCHEMA_BASEPATH`
        is the result schema)."""
        singles: list[str] = []
        stacked: list[str] = []
        for dirs in self._month_dirs(tier, months, version):
            (singles if len(dirs) == 1 else stacked).extend(dirs)
        # group single-dir months by their owning job dir so each read keeps
        # the p_month partition column (basePath) and the plan stays small
        by_job: dict[str, list[str]] = {}
        for d in singles:
            by_job.setdefault(os.path.dirname(d), []).append(d)
        frames = [
            self._read_data_dirs(dirs, base_path=job_dir)
            for job_dir, dirs in sorted(by_job.items())
        ]
        if stacked:
            # stacked months: one scan over every dir of every stack (each
            # dir holds exactly one month's rows, so no cross-month bleed),
            # then the same-grain algebraic recombine
            raw = self._read_data_dirs(stacked, base_path=None)
            frames.append(_as_stored(recombine(raw)))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return _derived(out)

    def snapshot_diff(
        self, tier: str, from_version: int, to_version: int | None = None
    ) -> dict[str, list[str]]:
        """Metadata-only diff between two retained snapshots: which months
        were ``added`` (absent before), ``removed`` (dropped by retention),
        or ``changed`` (same month re-pointed at a different data dir by an
        incremental merge). ``from_version=0`` diffs against the empty store
        ("everything since the beginning"). Pure pointer comparison — no
        data files are opened (Iceberg's snapshot-summary diff)."""
        a = self.snapshot(tier, from_version)["partitions"]
        b = self.snapshot(tier, to_version)["partitions"]
        return {
            "added": sorted(m for m in b if m not in a),
            "removed": sorted(m for m in a if m not in b),
            "changed": sorted(m for m in b if m in a and b[m] != a[m]),
        }

    def read_changes(
        self, tier: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental scan (Iceberg's ``incremental read`` between
        snapshots): the rows of every month ADDED or CHANGED after
        ``from_version``, resolved through the ``to_version`` (default
        current) snapshot. Granularity is whole month-partitions — a changed
        month re-emits ALL its rows (under merge-on-read, the full
        RECOMBINED month, not the appended delta) — which
        is exactly what a downstream cascade consumer needs to recompute
        (coarser tiers recombine whole months algebraically). Returns an
        empty DataFrame with the tier schema when nothing changed, even
        when the to-snapshot holds no partitions (retention can empty a
        tier)."""
        d = self.snapshot_diff(tier, from_version, to_version)
        months = sorted(set(d["added"]) | set(d["changed"]))
        if not months:
            return self.spark.createDataFrame([], TIER_SCHEMA_BASEPATH)
        return self.read_tier(tier, months=months, version=to_version)

    # ---- tier build with checkpoint/resume --------------------------------
    #: partition keys whose value is trusted to be the EVENT date. r7
    #: (ADVICE r6): only the store's OWN layout keys are trusted by default —
    #: generic names like ``date``/``dt``/``ds``/``day``/``month`` commonly
    #: hold the INGEST/processing date, which is NOT event time, and a store
    #: built over such input would silently discover wrong candidate months
    #: (missed months on build/resume, never wrong data — the commit only
    #: publishes realized months — but a resume would re-scan forever).
    #: Such sources pass ``build_tier(discover_from_paths=False)``.
    _DATE_PARTITION_KEYS = frozenset({"p_month", "p_day", "p_date"})

    @classmethod
    def _months_from_input_files(cls, df: DataFrame) -> set[str] | None:
        """Metadata-level candidate-month discovery (r6, VERDICT r5 #4):
        when EVERY input file of a file-backed source lies under a
        date-valued partition directory (``.../p_day=2023-01-05/``,
        ``.../p_month=2023-01/``, …), the candidate months are read off the
        PATHS — driver-side, from Spark's already-materialized file index —
        so a no-op resume touches ZERO data rows (the slim column-pruned
        discovery scan is still O(input); at 10^11 rows that is minutes for
        nothing). Returns None (caller falls back to the scan) for non-file
        sources or any file without a recognized date partition segment.
        A store tier's buckets never leave the row's calendar month, so a
        file's date-partition month is its buckets' p_month. Path months
        over-approximate when filters exclude whole partitions — safe,
        because the commit only publishes months the write realized."""
        try:
            files = df.inputFiles()
        except Exception:
            return None
        if not files:
            return None
        import re

        pat = re.compile(r"^(\d{4}-\d{2})(-\d{2})?$")
        months: set[str] = set()
        for f in files:
            month = None
            for seg in f.split("/")[:-1]:
                key, _, val = seg.partition("=")
                if _ and key.lower() in cls._DATE_PARTITION_KEYS:
                    g = pat.match(val)
                    if g:
                        month = g.group(1)
            if month is None:
                return None
            months.add(month)
        return months

    def build_tier(
        self,
        tier: str,
        source_df: DataFrame,
        from_tier: str | None = None,
        job_id: str | None = None,
        discover_from_paths: bool = True,
    ) -> int:
        """(Re)build one tier from raw (``from_tier=None``) or by cascading
        the finer tier. Only months absent from the manifest are computed —
        this IS the checkpoint/resume path: kill the job anywhere, rerun,
        and completed partitions are skipped. Candidate months come from the
        input's partition PATHS when possible (zero data rows read on a
        no-op resume; see :meth:`_months_from_input_files`) — pass
        ``discover_from_paths=False`` if the source is partitioned by a
        date that is NOT the event time under one of the recognized keys
        (only the store's own ``p_month``/``p_day``/``p_date`` are trusted —
        ADVICE r6: generic names like ``date``/``dt``/``ds`` usually hold the
        ingest date, and a wrong trust silently misses months on resume).

        The aggregate has one consumer, the write: the months to commit are
        listed from the job's own output, and :meth:`_log_job_from_data`
        takes the lineage rows from the written files on the driver, with
        no Spark job, like every other data-writing commit. The commit is
        CAS'd against the snapshot read before the write, so a commit
        landing mid-build makes this build fail with FileExistsError
        instead of overwriting it.

        Returns the number of month-partitions built this run.
        """
        self._check_tier(tier)
        job_id = self._check_job_id(job_id or uuid.uuid4().hex[:12])
        cur = self.current_snapshot(tier)  # CAS base for the commit
        agg = _as_stored(
            rollup_from_raw(source_df, tier)
            if from_tier is None
            else rollup_cascade(source_df, tier)
        )
        done = self.completed_months(tier)
        if done:
            cand = (
                self._months_from_input_files(source_df)
                if discover_from_paths else None
            )
            if cand is None:
                # Fallback discovery: Catalyst prunes every non-grouping
                # aggregate expression under select(p_month), so this pass
                # scans only the grouping columns (ts + key) — a resume with
                # nothing to do costs one slim scan, never the full
                # token-stat aggregation.
                cand = {
                    r["p_month"]
                    for r in agg.select("p_month").distinct().collect()
                }
            todo = cand - done
            if not todo:
                return 0
        else:
            # FRESH build (r7): with no completed months there is nothing to
            # skip, so candidate-month discovery would only re-derive what
            # the write realizes anyway — go straight to the full pass (one
            # less source scan; path discovery still guards every RESUME).
            todo = None
        pending = (
            agg if todo is None
            else agg.filter(F.col("p_month").isin(list(todo)))
        )
        # explicit repartition on the write-partition key: one shuffle,
        # each output partition written by few tasks (no small-file storm)
        data_dir = self.data_path(tier, job_id)
        t0 = time.time()
        # cluster by (source, bucket) inside each task (Iceberg write sort
        # order): row-group/page min-max stats then prune by-source reads on
        # a FRESH build, not only after compact()
        pending.repartition("p_month", "source").sortWithinPartitions(
            "p_month", "source", "bucket"
        ).write.mode("overwrite").partitionBy("p_month").parquet(data_dir)
        wall_ms = int((time.time() - t0) * 1000)
        # visibility commit: one snapshot pointing the new months at this
        # job's immutable directory — nothing referenced the files until
        # now. Only months the write REALIZED are published (path-derived
        # candidates may over-approximate; committing an unwritten month
        # would point at a nonexistent dir).
        realized = self._written_months(data_dir)
        if not realized:
            return 0
        self._commit_snapshot(
            tier, {m: f"{data_dir}/p_month={m}" for m in realized}, job_id,
            base=cur,
        )
        self._log_job_from_data(tier, job_id, wall_ms=wall_ms)
        return len(realized)

    def build_all(self, raw: DataFrame, tiers: list[str] | None = None) -> dict[str, int]:
        """Full cascade with resume at every tier. The first tier rolls up
        ``raw``; each coarser tier rolls up the finer tier's STORED rows
        (:meth:`_read_stored` — a merge-on-read stack's partial rows
        unmerged), so ``rollup_cascade`` is the one merge per tier."""
        tiers = tiers or TIER_CHAIN
        built: dict[str, int] = {}
        prev: str | None = None
        for t in tiers:
            src = raw if prev is None else self._read_stored(prev)
            built[t] = self.build_tier(t, src, from_tier=prev)
            prev = t
        return built

    # ---- incremental maintenance (continuous aggregates) ------------------
    def incremental_update(self, tier: str, new_raw: DataFrame, job_id: str | None = None) -> list[str]:
        """Merge NEW raw rows into one tier without touching unaffected
        partitions — MERGE-ON-READ (r6): aggregate the delta, write ONLY the
        delta's month dirs, and append each to its month's snapshot-entry
        stack. Nothing existing is read or rewritten, so the write cost is
        O(delta) regardless of how hot the month is (the r5 copy-on-write
        version rewrote every affected month wholesale — the store's worst
        cost at streaming cadence). Readers recombine stacks algebraically
        (:meth:`read_tier`); :meth:`compact` folds a stack back into one
        base dir. This is incremental materialized-view maintenance in
        Iceberg's merge-on-read shape (delta files + rewrite_data_files).

        EXACTLY-ONCE protocol (single writer per tier), one atomic decision
        point:

        1. job_id already committed a snapshot → fully visible; a replay
           only reconciles the manifest (idempotent) and returns;
        2. otherwise the tier still reads as the PRE-merge state (data files
           are immutable, readers resolve through the snapshot), so a replay
           after ANY crash simply recomputes the delta from scratch and
           commits — the round-1 double-merge window cannot exist because no
           partially-appended state is ever visible.

        Crash AFTER the snapshot commit leaves at most an unreferenced
        half-logged manifest; the replay heals it. Unreferenced data from
        pre-commit crashes is collected by :meth:`gc`.

        CONCURRENT maintenance (r6): the snapshot the stack entries were
        derived from is passed to the commit as its CAS base, so a
        compaction (or any other commit) landing in between makes THIS
        commit fail loudly with FileExistsError instead of resurrecting the
        pre-compaction stack — rerun the merge with the same job_id; the
        replay gate recomputes against the new current snapshot.

        Returns the list of refreshed months (empty on a committed replay).
        """
        self._check_tier(tier)
        job_id = self._check_job_id(job_id or uuid.uuid4().hex[:12])
        # phase 1: a retried micro-batch (same job_id, e.g. streaming
        # batchId) that already committed must not double-merge its delta
        if self._reconcile_replayed(tier, job_id):
            return []

        # phase 2: tier is untouched by this job (nothing references any
        # half-written files) — write the delta aggregate, delta ONLY
        delta = _as_stored(rollup_from_raw(new_raw, tier))
        data_dir = self.data_path(tier, job_id)
        # deliberately NOT sorted like build/compact: a micro-batch delta is
        # a single row group per file, so a write sort buys no row-group
        # pruning — clustering is restored when compact() folds the stack
        delta.repartition("p_month", "source").write.mode(
            "overwrite"
        ).partitionBy("p_month").parquet(data_dir)
        months = self._written_months(data_dir)
        if not months:
            return []

        # the commit point: append this job's month dirs to each affected
        # month's stack, CAS'd against the snapshot the stacks came from
        cur = self.current_snapshot(tier)
        updates = {
            m: self._entry_dirs(cur["partitions"].get(m))
            + [f"{data_dir}/p_month={m}"]
            for m in months
        }
        self._commit_snapshot(tier, updates, job_id, base=cur)
        self._log_job_from_data(tier, job_id)
        return months

    def cascade_refresh(
        self,
        finer: str,
        coarser: str,
        since_version: int,
        job_id: str | None = None,
    ) -> list[str]:
        """Diff-driven continuous-aggregate maintenance (r5): recompute the
        coarser tier for EXACTLY the months the finer tier added or changed
        since ``since_version`` (:meth:`snapshot_diff`).
        Month-partitions align across tiers (every tier's ``p_month`` is the
        calendar month of its bucket). The source is the changed months'
        STORED rows (:meth:`_read_stored`): under merge-on-read a month may
        be a dir stack (base + deltas), and its partial rows go straight
        into ``rollup_cascade``, which is the one merge — no recombine
        first. Each affected coarser month is recomputed whole — no
        cross-month state, no touching unaffected partitions.

        Same exactly-once shape as :meth:`incremental_update`: a replayed
        ``job_id`` that already committed reconciles the manifest and
        returns []. Returns the refreshed months.
        """
        self._check_tier(finer, coarser)
        job_id = self._check_job_id(job_id or uuid.uuid4().hex[:12])
        if self._reconcile_replayed(coarser, job_id):
            return []
        d = self.snapshot_diff(finer, since_version)
        months = sorted(set(d["added"]) | set(d["changed"]))
        if not months:
            return []
        cur = self.current_snapshot(coarser)  # CAS base for the commit
        src = self._read_stored(finer, months=months)
        agg = _as_stored(rollup_cascade(src, coarser))
        data_dir = self.data_path(coarser, job_id)
        # whole-month recompute → same write clustering as build_tier
        agg.repartition("p_month", "source").sortWithinPartitions(
            "p_month", "source", "bucket"
        ).write.mode("overwrite").partitionBy("p_month").parquet(data_dir)
        self._commit_snapshot(
            coarser, {m: f"{data_dir}/p_month={m}" for m in months}, job_id,
            base=cur,
        )
        self._log_job_from_data(coarser, job_id)
        return months

    @staticmethod
    def _written_months(data_dir: str) -> list[str]:
        """The months a job's write realized, listed from its own output
        dir: the write itself is the month discovery (no second
        aggregation pass, no collect over the written frame)."""
        return sorted(
            e.split("=", 1)[1] for e in os.listdir(data_dir)
            if e.startswith("p_month=")
        )

    def _reconcile_replayed(self, tier: str, job_id: str) -> bool:
        """The exactly-once replay gate, shared by every committing op: True
        iff ``job_id`` already committed (durable job record or retained
        snapshot), in which case the only remaining work is healing a
        manifest append the crash may have cut off — the caller must then
        no-op. The commit record is the source of truth; the manifest can
        lag it by exactly one step."""
        if job_id not in self.committed_job_ids(tier):
            return False
        if job_id not in self._manifest_values(tier, "job_id"):
            self._log_job_from_data(tier, job_id)
        return True

    def _log_job_from_data(self, tier: str, job_id: str, wall_ms: int = 0) -> None:
        """Append manifest rows for a committed job: the POST-state of every
        month the job's snapshot added or changed, read through that PINNED
        version (r6 — deterministic and replay-idempotent even under
        merge-on-read, where the job's own dir holds only a delta; the
        lineage contract is that each job logs its months' post-state).
        The stats are read on the driver from the parquet files of each
        month's dirs in that version (:func:`_month_post_state`), the same
        dirs ``read_tier(version=v)`` resolves; no Spark job starts — tier
        rows are bounded by keys × calendar buckets, never raw scale. A
        month with no rows logs no row. If the job's snapshot or its diff
        base was already expired by :meth:`gc` before a crash-heal got
        here, the lineage row is unrecoverable — skip rather than crash the
        replay no-op. ``wall_ms`` is the job's write time (builds pass it;
        0 otherwise)."""
        v = self.version_of_job(tier, job_id)
        if v is None:
            return
        try:
            d = self.snapshot_diff(tier, v - 1, v)
            months = sorted(set(d["added"]) | set(d["changed"]))
            if not months:
                return
            parts = self.snapshot(tier, v)["partitions"]
            stats = {
                m: _month_post_state(
                    [self._resolve(x) for x in self._entry_dirs(parts[m])]
                )
                for m in months
            }
        except FileNotFoundError:
            return
        now = time.time()
        self._log(tier, [
            {"p_month": m, "n_rows": n_rows, "sum_n_seq": sum_n_seq,
             "wall_ms": wall_ms, "job_id": job_id, "completed_at": now}
            for m, (n_rows, sum_n_seq) in stats.items() if n_rows
        ])

    def compact(
        self,
        tier: str,
        months: list[str] | None = None,
        job_id: str | None = None,
    ) -> list[str]:
        """Rewrite each month-partition into one file sorted by source, then
        bucket (Iceberg's ``rewrite_data_files``). Under merge-on-read (r6)
        this is ALSO where a month's delta stack folds back into one base
        dir: the read recombines base + deltas, the rewrite stores the
        recombined rows, and the snapshot entry collapses to a single dir —
        bounding both small-file read amplification and stack depth. The
        rewrite follows the store's one commit discipline — rows are read
        through a PINNED snapshot, written to a NEW immutable job dir, and
        published by a single snapshot re-point whose CAS base is that same
        pinned snapshot; the superseded dirs become unreferenced and are
        collected by :meth:`gc`. Value-neutral by construction (same rows,
        new layout). Returns compacted months.

        Replay: a ``job_id`` that already committed no-ops and returns []
        REGARDLESS of the ``months`` argument — reusing a job id with a
        different month set does not compact the extra months (moot on the
        default path, which generates a fresh id per call).

        Concurrency: an incremental merge (or any commit) landing between
        the pinned read and this commit makes the commit fail loudly with
        FileExistsError — the compaction would otherwise erase the
        interleaved merge's delta from the re-pointed months. On a CAS loss
        simply call :meth:`compact` again (fresh job_id): the retry reads
        the post-merge snapshot and folds the new delta too.

        The sort (r6, Iceberg SORT ORDER parity) lands each source's rows
        contiguously, so parquet row-group / page min-max stats prune a
        source-filtered read (the reference's whole access pattern is
        by-site series). Merge deltas arrive in shuffle order, so clustering
        decays between compactions and is restored here — exactly where
        Iceberg applies its table sort order."""
        job_id = self._check_job_id(
            job_id or f"compact-{uuid.uuid4().hex[:8]}")
        # plain replay check, not _reconcile_replayed: compaction is
        # layout-only and deliberately writes no lineage manifest rows
        if job_id in self.committed_job_ids(tier):
            return []
        cur = self.current_snapshot(tier)
        todo = sorted(cur["partitions"] if months is None else
                      [m for m in months if m in cur["partitions"]])
        if not todo:
            return []
        df = _as_stored(self.read_tier(tier, months=todo, version=cur["version"]))
        data_dir = self.data_path(tier, job_id)
        # hash-partition so each month's rows land in one task (one output
        # file per month-dir)
        df.repartition(len(todo), "p_month").sortWithinPartitions(
            "p_month", "source", "bucket"
        ).write.mode("overwrite").partitionBy("p_month").parquet(data_dir)
        self._commit_snapshot(
            tier, {m: f"{data_dir}/p_month={m}" for m in todo}, job_id,
            base=cur,
        )
        return todo

    def fold_hot_stacks(
        self, tier: str, max_depth: int = 16, job_id: str | None = None
    ) -> list[str]:
        """Bound merge-on-read READ amplification: compact exactly the
        months whose snapshot dir stack is deeper than ``max_depth``. At
        streaming cadence the hot current month takes one delta dir per
        micro-batch; without a bound its recombine read grows linearly
        between full compactions. Calling this after each drain (the
        streaming sink does, see ``refresh_store_availablenow``) keeps
        every month's stack ≤ max_depth + 1 while paying the fold only
        O(1/max_depth) of the time — the amortized write stays O(delta ×
        (1 + tier_month/(max_depth·delta))), Iceberg's file-count-triggered
        rewrite policy. Value-neutral (it IS :meth:`compact`); a CAS loss
        to a concurrent committer raises FileExistsError — safe to skip and
        retry at the next cadence. Returns the folded months."""
        parts = self.current_snapshot(tier)["partitions"]
        deep = sorted(
            m for m, e in parts.items()
            if len(self._entry_dirs(e)) > max_depth
        )
        if not deep:
            return []
        return self.compact(tier, months=deep, job_id=job_id)

    def partitions(self, tier: str, version: int | None = None) -> DataFrame:
        """Iceberg's ``partitions`` metadata table: one row per
        month-partition of the pinned snapshot (latest when ``version`` is
        None), computed from METADATA only — snapshot entries, directory
        listings, and parquet FOOTERS; no data row is ever decoded. Columns:

        * ``stack_depth`` — merge-on-read dir count (1 = fully compacted);
        * ``n_files`` / ``bytes`` — physical file count and size;
        * ``physical_rows`` — footer row counts SUMMED ACROSS THE STACK (a
          stacked month's logical recombined count is ≤ this; they agree
          exactly once the month is compacted).

        This is the maintenance decision surface: ``stack_depth`` says when
        to :meth:`compact` (or what :meth:`fold_hot_stacks` will pick up),
        ``bytes/n_files`` exposes small-file pressure — without paying a
        data scan at any table size."""
        import pyarrow.parquet as pq

        snap = self.snapshot(tier, version)
        rows = []
        for m, entry in sorted(snap["partitions"].items()):
            dirs = self._entry_dirs(entry)
            n_files = n_bytes = n_rows = 0
            for d in dirs:
                r = self._resolve(d)
                for f in _data_files(r) if os.path.isdir(r) else []:
                    n_files += 1
                    n_bytes += os.path.getsize(f)
                    n_rows += pq.ParquetFile(f).metadata.num_rows
            rows.append((m, len(dirs), n_files, n_bytes, n_rows))
        return self.spark.createDataFrame(
            rows,
            "p_month string, stack_depth int, n_files int, "
            "bytes long, physical_rows long",
        )

    # ---- verification + retention ----------------------------------------
    def verify_cascade(self, finer: str, coarser: str) -> DataFrame:
        """Month-level check that the coarser tier conserves the finer tier's
        row mass (sum_n_seq). Returns months with status."""
        f = (
            self.read_tier(finer)
            .groupBy(F.date_format("bucket", "yyyy-MM").alias("p_month"))
            .agg(F.sum("n_seq").alias("fine_n"))
        )
        c = (
            self.read_tier(coarser)
            .groupBy(F.date_format("bucket", "yyyy-MM").alias("p_month"))
            .agg(F.sum("n_seq").alias("coarse_n"))
        )
        return f.join(c, "p_month", "full").select(
            "p_month",
            "fine_n",
            "coarse_n",
            (F.col("fine_n") == F.col("coarse_n")).alias("ok"),
        )

    def apply_retention(
        self, tier: str, coarser: str, keep_months_after: str
    ) -> list[str]:
        """Drop this tier's month-partitions strictly before
        ``keep_months_after`` (yyyy-MM), but ONLY those whose coarser rollup
        verified. METADATA-ONLY: one snapshot commit without the expired
        months (Iceberg's ``DELETE WHERE p_month < ...``); the data files
        become unreferenced and are physically removed by :meth:`gc`."""
        verified = {
            r["p_month"]
            for r in self.verify_cascade(tier, coarser).filter("ok").collect()
        }
        cur = self.current_snapshot(tier)
        dropped = sorted(
            m for m in cur["partitions"]
            if m < keep_months_after and m in verified
        )
        if dropped:
            self._commit_snapshot(
                tier, {m: None for m in dropped},
                f"retention-{uuid.uuid4().hex[:8]}", base=cur,
            )
        return dropped

    def gc_job_records(
        self, tier: str, horizon_seconds: float = 2592000.0
    ) -> list[str]:
        """Delete durable job-commit records older than ``horizon_seconds``
        (by their ORIGINAL ``committed_at``; heals preserve it). Returns the
        removed job ids.

        The records are the replay-detection source of truth
        (:meth:`committed_job_ids`); without expiry the store accrues one
        tiny JSON per tier per micro-batch FOREVER — the only unbounded
        metadata it has. SAFETY ARGUMENT: a record may be deleted only when
        no replay of that job can still arrive. A replay comes from (a) the
        streaming checkpoint re-delivering an in-flight batch — bounded by
        the checkpoint's replay window (a restarted query never re-runs
        batches older than its last commit), or (b) an orchestrator retrying
        a failed run — bounded by its retry budget. Pick a horizon past
        both, plus the :meth:`gc` keep-snapshots window (a retained snapshot
        still witnesses its own job id even without a record, so records for
        retained-snapshot jobs are redundant anyway); the 30-day default
        dwarfs any sane retry budget. A job older than the horizon that IS
        somehow replayed would re-merge its delta — the exactly-once
        guarantee is explicitly bounded by this horizon, exactly as
        Iceberg's ``expire_snapshots`` bounds time travel."""
        jd = self.jobs_path(tier)
        if not os.path.isdir(jd):
            return []
        cutoff = time.time() - horizon_seconds
        removed = []
        for f in sorted(os.listdir(jd)):
            if not f.endswith(".json") or f.startswith(".tmp-"):
                continue
            path = f"{jd}/{f}"
            try:
                with open(path) as fh:
                    committed_at = json.load(fh).get("committed_at")
            except (OSError, ValueError):
                continue  # unreadable/in-flight: keep, never guess
            if committed_at is None:
                continue  # r7 (ADVICE r6): absent timestamp — keep, same
                # never-guess policy as unreadable records (defaulting to 0
                # deleted it as "infinitely old" and lost replay protection)
            if committed_at < cutoff:
                os.unlink(path)
                removed.append(f[:-5])
        return removed

    def gc(
        self,
        tier: str,
        keep_snapshots: int = 1,
        min_age_seconds: float = 259200.0,
    ) -> list[str]:
        """Physically delete data directories no snapshot in the retained
        window references (expired retention drops, superseded merges,
        pre-commit crash leftovers), then expire old snapshot files. The
        ONLY place files are deleted — never on the commit path. Returns the
        removed month-directories.

        ``min_age_seconds`` (r5): an unreferenced dir younger than this is
        SKIPPED — it may belong to an in-flight job whose snapshot commit
        hasn't linked yet (data dirs are unreferenced until the pointer
        publishes, so a zero-grace gc racing a live committer would collect
        the dir out from under it). The 3-day default matches Iceberg's
        remove_orphan_files ``older_than`` default, sized so even a
        multi-hour backfill's write-to-commit gap is covered. Pass 0 only when no
        writer can be live (single-operator maintenance); even then the
        committer's existence pre-check turns the race loss into a loud
        abort rather than a dangling snapshot.

        Job-commit records are DURABLE (r5, ``jobs/<tier>/``): expiring a
        snapshot no longer forgets who committed it, so a replay of any
        past batch is still detected as committed and no-ops — gc cannot
        reopen a double-merge window. What expiry DOES still remove is the
        snapshot content old DIFF BASES need: a cascade replay whose base
        version was expired fails loudly in snapshot_diff rather than
        recomputing from the wrong state, so run gc with a keep_snapshots
        window past the streaming checkpoint's in-flight batches."""
        if keep_snapshots < 1:
            raise ValueError("keep_snapshots must be >= 1 (the current "
                             "snapshot must survive gc)")
        versions = self._snapshot_versions(tier)
        keep_versions = versions[-keep_snapshots:] if versions else []
        # live = realpaths of every referenced dir so a root reopened via a
        # symlink / relative spelling still recognizes its committed data
        live: set[str] = set()
        n_live_refs = 0
        for v in keep_versions:
            with open(f"{self.snapshots_path(tier)}/v{v}.json") as fh:
                for entry in json.load(fh)["partitions"].values():
                    for d in self._entry_dirs(entry):  # stacks: every dir live
                        n_live_refs += 1
                        live.add(os.path.realpath(self._resolve(d)))
        base = f"{self.root}/data/{tier}"
        candidates: list[str] = []
        if os.path.isdir(base):
            for job in sorted(os.listdir(base)):
                job_dir = f"{base}/{job}"
                candidates.extend(
                    f"{job_dir}/{entry}"
                    for entry in sorted(os.listdir(job_dir))
                    if entry.startswith("p_month=")
                )
        # Safety interlock: retained snapshots reference partitions but NONE
        # of them resolve to a scanned dir — the root moved without its data,
        # or the snapshot paths are unresolvable. Deleting here would wipe
        # every committed file, so refuse instead of "collecting garbage".
        if n_live_refs and candidates and not any(
            os.path.realpath(d) in live for d in candidates
        ):
            raise RuntimeError(
                f"gc({tier}): retained snapshots reference {n_live_refs} "
                f"partition dir(s) but none match any dir under {base} — "
                "refusing to delete (store moved or snapshot paths stale?)"
            )
        now = time.time()

        def _young(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) < min_age_seconds
            except OSError:
                return True  # vanished mid-walk: treat as in-flight, skip

        removed = []
        for d in candidates:
            if os.path.realpath(d) not in live and not _young(d):
                shutil.rmtree(d)
                removed.append(d)
        # r7 (ADVICE r6): sweep crashed manifest appenders' private staging
        # (.tmp-* files; legacy _stage-* dirs) — readers ignore the hidden
        # names, but nothing else ever deleted them, so crashed appenders
        # leaked disk unboundedly. Same min-age grace as data dirs.
        mdir = self.manifest_path(tier)
        if os.path.isdir(mdir):
            for entry in os.listdir(mdir):
                if entry.startswith((".tmp-", "_stage-")) and not _young(
                    f"{mdir}/{entry}"
                ):
                    p = f"{mdir}/{entry}"
                    shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)
        if os.path.isdir(base):
            for job in sorted(os.listdir(base)):
                job_dir = f"{base}/{job}"
                if not any(
                    e.startswith("p_month=") for e in os.listdir(job_dir)
                ) and not _young(job_dir):
                    shutil.rmtree(job_dir)
        for v in versions[:-keep_snapshots]:
            path = f"{self.snapshots_path(tier)}/v{v}.json"
            with open(path) as fh:
                sj = json.load(fh)
            j = sj.get("job_id")
            # heal-before-expire: a commit that crashed between snapshot
            # link and job-record write would otherwise be forgotten the
            # moment its only witness (this file) is deleted. Tolerant of
            # legacy snapshots with absent/unsafe job ids — those can never
            # have a record; wedging expiry on them would be worse.
            if j and not os.path.exists(f"{self.jobs_path(tier)}/{j}.json"):
                try:
                    self._record_job(tier, j, v,
                                     committed_at=sj.get("committed_at"))
                except ValueError:
                    pass
            os.unlink(path)
        return removed
