"""The two workloads. Each is one closed-loop client: it issues its next
operation only when the previous one has returned.

* ``build_wide``: each cycle builds a fresh store from the raw table with
  ``AggregateStore.build_all`` (1h, 1d, 1mo), then queries it.
* ``maintain_query``: each cycle lands one batch file, drains it with
  ``refresh_store_availablenow`` (cascade on, small ``fold_depth``), then
  queries the store. The number of cycles is fixed, so every run lands
  the same batches and folds at the same drain.

A query reads one source of one tier, joins it onto its dense spine and
fills the gaps: ``interpolate_linear`` over the full 1d range, or
``locf`` over the newest month of 1h.

Every timed operation starts after a forced garbage collection and is
measured in CPU seconds of the whole process tree (:mod:`perfbench.cpu`)
as well as in wall seconds. After the cycles every workload
checks its tiers, then runs the Gorilla codec over its 1h and 1d series
in-process; the traced run also packs them with the Spark sequence
(``compress_tier``, write, ``decompress_tier`` round trip).
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ingestr_spark.compression import gorilla
from ingestr_spark.operators import gapfill
from ingestr_spark.operators.rollup import ACC_COLS
from ingestr_spark.retention import TIER_CHAIN, AggregateStore
from ingestr_spark.streaming import jobs as streaming
from perfbench import checks, inputs
from perfbench.cpu import cpu_s, snapshot

#: timed build cycles per run (at least; more while ``--seconds`` has not
#: passed: every build is the same work, so extra cycles only add samples)
BUILD_CYCLES = 2
WARM_BUILDS = 3  # untimed builds before the timed ones
#: timed drain cycles per run (exactly: each drain changes the store)
MAINTAIN_CYCLES = 3
MAINTAIN_WARM = 2  # untimed drain cycles before the timed ones
BUILD_QUERIES = 8  # per build cycle
MAINTAIN_QUERIES = 8  # per maintain cycle
#: merge-on-read stack depth that triggers a fold: with one delta per
#: drain, every third drain folds the months it touched. After two warm-up
#: drains the first timed one folds, so the timed drains are one whole fold
#: period and their median is a drain that does not fold
FOLD_DEPTH = 3
#: untimed warm-up queries, each kind on ``hot`` and on one ``srcK``; taken
#: from outside the seeded plan so that the timed queries are whole blocks
WARM_QUERIES = [("interp_1d", "hot"), ("locf_1h", "hot"),
                ("interp_1d", "src1"), ("locf_1h", "src1")]
PACK_TIERS = ("1h", "1d")
QUERY_COLS = ["source", "bucket", "n_seq", "avg_n_tok"]
STORE_DIRS = ("data", "snapshots", "manifest", "jobs")


@dataclass
class Result:
    """What one run measured and checked."""

    setup_cpu_s: float = 0.0
    ingest_cpu_s: list[float] = field(default_factory=list)
    query_cpu_s: list[float] = field(default_factory=list)
    ingest_s: list[float] = field(default_factory=list)  # wall, printed only
    query_s: list[float] = field(default_factory=list)  # wall, printed only
    ingest_rows: list[int] = field(default_factory=list)
    codec_points: int = 0
    packed_bytes: int = 0
    live_bytes: int = 0
    tier_rows: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)  # traced-run layer facts
    phases: dict = field(default_factory=dict)  # wall seconds per phase


class Ctx:
    """Per-run state shared by the workload steps."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int,
                 seconds: float, threads: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.threads = threads
        self.res = Result()
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Close the wall-clock interval of ``phase`` (reported, not a metric)."""
        now = time.perf_counter()
        self.res.phases[phase] = self.res.phases.get(phase, 0.0) + now - self._mark
        self._mark = now

    def op(self, name: str, fn, *args):
        """Run one counted operation; an exception is a failed operation."""
        self.res.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            traceback.print_exc(file=sys.stderr)
            self.res.failed += 1
            self.res.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None

    def check(self, name: str, bad: int | None) -> None:
        """Count one correctness check; ``bad`` rows (or None after an
        exception) make it a failed operation."""
        self.res.attempted += 1
        if bad != 0:
            self.res.failed += 1
            self.res.failures.append(f"check {name}: {bad} mismatching")


def settle(ctx: Ctx) -> None:
    """Collect the garbage of earlier operations, in the driver and in the
    JVM, before an operation is timed: otherwise whichever operation
    happens to fill the old generation pays a full collection for all."""
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()


# ---- queries ------------------------------------------------------------

def query_plan(seed: int, n_sources: int, n: int) -> list[tuple[str, str]]:
    """Seeded (kind, source) list in blocks of four: each query kind once on
    ``hot`` and once on a uniform ``srcK``, in seeded order. Half the
    queries hit the hot source, and every block has the same mix, so runs
    of different seeds time the same kinds of work."""
    rng = random.Random(f"queries-{seed}")
    out: list[tuple[str, str]] = []
    while len(out) < n:
        block = [(kind, src) for kind in ("interp_1d", "locf_1h")
                 for src in ("hot", f"src{rng.randrange(n_sources)}")]
        rng.shuffle(block)
        out += block
    return out[:n]


def run_query(store: AggregateStore, kind: str, source: str) -> list:
    if kind == "interp_1d":
        tier = store.read_tier("1d")
        filled = gapfill.interpolate_linear(
            gapfill.spine_join(
                tier.filter(F.col("source") == source).select(*QUERY_COLS),
                step="interval 1 day",
            ),
            ["avg_n_tok"],
        )
    else:
        newest = max(store.current_snapshot("1h")["partitions"])
        tier = store.read_tier("1h", months=[newest])
        filled = gapfill.locf(
            gapfill.spine_join(
                tier.filter(F.col("source") == source).select(*QUERY_COLS),
                step="interval 1 hour",
            ),
            ["avg_n_tok"],
        )
    return filled.collect()


def timed_queries(ctx: Ctx, store, plan: list, record: bool) -> list[tuple]:
    """Issue ``plan``'s queries one after another; returns (kind, source,
    rows) per query."""
    out = []
    if record:
        settle(ctx)
    for kind, src in plan:
        c0, t0 = snapshot(), time.perf_counter()
        with ctx.tracer.span("op.query", kind=kind, source=src) as sp:
            rows = ctx.op(f"query {kind} {src}", run_query, store, kind, src)
        dt = time.perf_counter() - t0
        dc = cpu_s(c0, snapshot())
        if sp is not None:
            sp["attrs"]["rows"] = len(rows or [])
        if record:
            ctx.res.query_s.append(dt)
            ctx.res.query_cpu_s.append(dc)
        out.append((kind, src, rows))
        ctx.spark.catalog.clearCache()  # spine_join persists its tier
    return out


# ---- store metadata -------------------------------------------------------

def _dir_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


def store_bytes(store: AggregateStore) -> tuple[int, int]:
    """(bytes, files) on disk under the store's tier directories. Nothing
    in the store deletes data until ``gc``, so this is every byte the
    store has written."""
    tot = [0, 0]
    for d in STORE_DIRS:
        b, f = _dir_bytes(os.path.join(store.root, d))
        tot[0] += b
        tot[1] += f
    return tot[0], tot[1]


def live_bytes(store: AggregateStore) -> int:
    """Bytes of the data directories the current snapshots reference."""
    total = 0
    for t in TIER_CHAIN:
        for entry in store.current_snapshot(t)["partitions"].values():
            for d in store._entry_dirs(entry):
                total += _dir_bytes(store._resolve(d))[0]
    return total


def stack_depth(store: AggregateStore, tier: str = "1h") -> int:
    parts = store.current_snapshot(tier)["partitions"]
    return max((len(store._entry_dirs(e)) for e in parts.values()), default=0)


# ---- codec ----------------------------------------------------------------

def tier_series(pdf) -> list[tuple[np.ndarray, np.ndarray]]:
    """The series ``compress_tier`` packs, one per (source, calendar year):
    epoch seconds and ``avg_n_tok``, in time order."""
    pdf = pdf.assign(
        _t=pdf["bucket_us"] // 1_000_000,
        _y=pd.to_datetime(pdf["bucket_us"], unit="us").dt.year,
    ).sort_values(["source", "_y", "_t"])
    return [
        (g["_t"].to_numpy(dtype="int64"), g["avg_n_tok"].to_numpy(dtype="float64"))
        for _, g in pdf.groupby(["source", "_y"], sort=False)
    ]


def codec_round_trip(series: list, min_s: float, min_passes: int) -> dict:
    """Encode every series with the public Gorilla encoders and decode the
    blobs again, in at least ``min_passes`` passes and ``min_s`` seconds;
    reports the median pass, the blob sizes, and the series that do not
    come back bit-exact."""
    enc, dec = [], []
    t_all = time.perf_counter()
    gc.disable()  # as timeit does: a collection is not codec work
    try:
        while len(enc) < min_passes or time.perf_counter() - t_all < min_s:
            t0 = time.perf_counter()
            blobs = [(gorilla.encode_timestamps(t), gorilla.encode_values(v)) for t, v in series]
            t1 = time.perf_counter()
            back = [(gorilla.decode_timestamps(a), gorilla.decode_values(b)) for a, b in blobs]
            dec.append(time.perf_counter() - t1)
            enc.append(t1 - t0)
    finally:
        gc.enable()
    bad = sum(
        not (np.array_equal(t, t2) and np.array_equal(v.view("int64"), v2.view("int64")))
        for (t, v), (t2, v2) in zip(series, back)
    )
    return {
        "points": sum(len(t) for t, _ in series),
        "enc_s": statistics.median(enc), "dec_s": statistics.median(dec),
        "ts_bytes": sum(len(a) for a, _ in blobs),
        "val_bytes": sum(len(b) for _, b in blobs),
        "bad": bad,
    }


def pack(ctx: Ctx, store: AggregateStore) -> int:
    """The ``--compress --verify-codec`` sequence on the 1h and 1d tiers:
    compress, write, read back, decompress, anti-join both ways. Returns
    the rows found on one side only."""
    bad = 0
    for t in PACK_TIERS:
        out = f"{store.root}/compressed/{t}"
        with ctx.tracer.span("op.pack", tier=t):
            gorilla.compress_tier(store.read_tier(t), value_col="avg_n_tok").write.mode(
                "overwrite"
            ).parquet(out)
        with ctx.tracer.span("op.verify", tier=t):
            back = gorilla.decompress_tier(
                ctx.spark.read.parquet(out), value_col="avg_n_tok"
            )
            orig = store.read_tier(t).select(
                "source", F.col("bucket").cast("timestamp").alias("bucket"), "avg_n_tok"
            )
            on = ["source", "bucket", "avg_n_tok"]
            bad += orig.join(back, on, "left_anti").count()
            bad += back.join(orig, on, "left_anti").count()
    return bad


def packed_bytes(store: AggregateStore) -> int:
    """Blob bytes of the packed tiers ``pack`` wrote."""
    total = 0
    for t in PACK_TIERS:
        tab = pq.read_table(f"{store.root}/compressed/{t}", columns=["ts_dod", "vals_gorilla"])
        total += pc.sum(pc.binary_length(tab["ts_dod"])).as_py()
        total += pc.sum(pc.binary_length(tab["vals_gorilla"])).as_py()
    return total


FRAME_COLS = [*ACC_COLS, "avg_n_tok", "qc_frac"]


def finish(ctx: Ctx, store: AggregateStore, raw_files: list[str]) -> dict:
    """Check every tier against DuckDB and the cascade, run the codec over
    the 1h and 1d series, and (traced run) the Spark pack sequence.
    Returns the collected tiers."""
    ctx.tracer.phase = "check"
    frames = {}
    for t in TIER_CHAIN:
        frames[t] = ctx.op(f"collect {t}", checks.tier_frame, store.read_tier(t), FRAME_COLS)
        ctx.check(f"{t} vs DuckDB", None if frames[t] is None else ctx.op(
            f"oracle {t}", checks.vs_oracle, frames[t], raw_files, t, ctx.threads))
    for finer, coarser in zip(TIER_CHAIN, TIER_CHAIN[1:]):
        ctx.check(f"verify_cascade {finer}->{coarser}",
                  ctx.op("verify_cascade", checks.cascade_not_ok, store, finer, coarser))
    ctx.res.tier_rows = sum(len(f) for f in frames.values() if f is not None)
    ctx.res.live_bytes = live_bytes(store)
    ctx.mark("check")

    # one pass checks the codec and counts its bytes; the traced run times
    # several (single-threaded codec speed swings too much on a shared host
    # to carry an end-to-end bound)
    series = [s for t in PACK_TIERS if frames[t] is not None for s in tier_series(frames[t])]
    traced = ctx.tracer.enabled
    rt = codec_round_trip(series, min_s=1.5 if traced else 0.0, min_passes=3 if traced else 1)
    ctx.check("codec round trip", rt["bad"])
    ctx.res.codec_points = rt["points"]
    ctx.res.packed_bytes = rt["ts_bytes"] + rt["val_bytes"]
    ctx.mark("codec")

    if traced:
        pts = max(1, rt["points"])
        ctx.res.facts.update({
            "codec.encode_mpts_per_s": rt["points"] / rt["enc_s"] / 1e6,
            "codec.decode_mpts_per_s": rt["points"] / rt["dec_s"] / 1e6,
            "codec.ts_bytes_per_point": rt["ts_bytes"] / pts,
            "codec.val_bytes_per_point": rt["val_bytes"] / pts,
            "write_amp": store_bytes(store)[0] / max(1, ctx.res.live_bytes),
        })
        ctx.tracer.phase = "pack"
        t0 = time.perf_counter()
        bad = ctx.op("pack", pack, ctx, store)
        ctx.res.facts["codec.pack_mpts_per_s"] = rt["points"] / (time.perf_counter() - t0) / 1e6
        ctx.check("pack round trip", bad)
        # the Spark pack and the in-process encoders must write the same bytes
        ctx.check("pack bytes", abs(packed_bytes(store) - ctx.res.packed_bytes))
        ctx.mark("pack")
    return frames


def _record_written(ctx: Ctx, written: list[tuple[int, int]]) -> None:
    """Store (bytes, files) written per timed ingest op as layer facts."""
    if written:
        ctx.res.facts["bytes_written_per_op"] = sum(b for b, _ in written) / len(written)
        ctx.res.facts["files_written_per_op"] = sum(f for _, f in written) / len(written)


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _enough(ctx: Ctx, t_start: float, done: int, minimum: int) -> bool:
    return done >= minimum and time.perf_counter() - t_start >= ctx.seconds


# ---- build workloads --------------------------------------------------------

def build_inputs(ctx: Ctx) -> str:
    """The raw table of ``build_wide``."""
    return inputs.raw_table(ctx.spark, ctx.cache, inputs.WIDE, ctx.seed)


def build(ctx: Ctx, session_cpu_s: float) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    shape = inputs.WIDE
    raw = build_inputs(ctx)
    raw_files = _parquet_files(raw)
    plan = iter(query_plan(ctx.seed, shape.n_sources, 10_000))
    ctx.mark("inputs")

    # preparation, repeated: open the raw table and a fresh store
    preps = []
    for i in range(3):
        c0 = snapshot()
        spark.read.parquet(raw).schema  # noqa: B018 - the listing is the prep
        AggregateStore(spark, f"{ctx.work}/prep{i}")
        preps.append(cpu_s(c0, snapshot()))
    ctx.res.setup_cpu_s = session_cpu_s + statistics.median(preps)

    # warm-up: untimed builds of the whole raw table, then the warm-up
    # queries (after one warm build, the first timed build still cost 1.2x
    # the CPU of the second)
    tr.phase = "warmup"
    for i in range(WARM_BUILDS):
        warm = AggregateStore(spark, f"{ctx.work}/warm{i}")
        ctx.op("warm build", warm.build_all, spark.read.parquet(raw), TIER_CHAIN)
        if i < WARM_BUILDS - 1:
            shutil.rmtree(warm.root, ignore_errors=True)
    timed_queries(ctx, warm, WARM_QUERIES, record=False)
    shutil.rmtree(warm.root, ignore_errors=True)
    ctx.mark("warmup")

    tr.phase = "timed"
    t_start = time.perf_counter()
    store, k, written = None, 0, []
    while not _enough(ctx, t_start, k, BUILD_CYCLES):
        if store is not None:
            shutil.rmtree(store.root, ignore_errors=True)
        store = AggregateStore(spark, f"{ctx.work}/store{k}")
        settle(ctx)
        c0, t0 = snapshot(), time.perf_counter()
        with tr.span("op.ingest", rows=shape.n_rows):
            ctx.op("build_all", store.build_all, spark.read.parquet(raw), TIER_CHAIN)
        ctx.res.ingest_s.append(time.perf_counter() - t0)
        ctx.res.ingest_cpu_s.append(cpu_s(c0, snapshot()))
        ctx.res.ingest_rows.append(shape.n_rows)
        if tr.enabled:
            written.append(store_bytes(store))
        timed_queries(ctx, store, [next(plan) for _ in range(BUILD_QUERIES)], record=True)
        k += 1
    _record_written(ctx, written)
    if tr.enabled:
        ctx.res.facts["stack_depth_max"] = stack_depth(store)
    ctx.mark("timed")
    finish(ctx, store, raw_files)
    return ctx.res


# ---- maintain_query ---------------------------------------------------------

def cached_build(ctx: Ctx, path: str, tables: list[str]) -> AggregateStore:
    """The store one ``build_all`` of ``tables`` makes, built once into
    ``path`` and reused by later runs of the same inputs."""
    if not os.path.exists(f"{path}/_BUILT"):
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(path + ".tmp", ignore_errors=True)
        AggregateStore(ctx.spark, path + ".tmp").build_all(
            ctx.spark.read.parquet(*tables), TIER_CHAIN)
        os.rename(path + ".tmp", path)
        open(f"{path}/_BUILT", "w").close()
    return AggregateStore(ctx.spark, path)


def land(src: str, inbox: str, k: int) -> None:
    """Publish one batch file into the watched directory atomically: the
    file source skips dot-files, so the copy is invisible until renamed."""
    tmp = os.path.join(inbox, f".landing-{k:04d}.parquet")
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(inbox, f"batch-{k:04d}.parquet"))


def maintain_inputs(ctx: Ctx) -> tuple[str, list[str], str, AggregateStore]:
    """The base table, the batch files, the base store, and the reference
    the maintained store is checked against: one eager build of base +
    every batch."""
    spark, shape = ctx.spark, inputs.BASE
    n_batches = MAINTAIN_WARM + MAINTAIN_CYCLES
    raw = inputs.raw_table(spark, ctx.cache, shape, ctx.seed)
    batches = inputs.batch_files(spark, ctx.cache, shape, ctx.seed, n_batches)
    base = cached_build(ctx, f"{raw}-store", [raw]).root
    eager = cached_build(ctx, f"{raw}-ref{n_batches}x{inputs.BATCH_ROWS}", [raw, *batches])
    return raw, batches, base, eager


def maintain(ctx: Ctx, session_cpu_s: float) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    shape = inputs.BASE
    n_batches = MAINTAIN_WARM + MAINTAIN_CYCLES
    raw, batches, base, eager = maintain_inputs(ctx)
    # the batches are the same for every seed of one id range (so are the
    # final tiers); the seed orders their arrival
    order = list(range(n_batches))
    random.Random(f"arrival-{ctx.seed}").shuffle(order)
    schema = spark.read.parquet(raw).schema
    plan = iter(query_plan(ctx.seed, shape.n_sources, 10_000))
    ctx.mark("inputs")

    # preparation, repeated: a fresh copy of the base store plus an empty
    # watched directory and checkpoint; the last copy is used
    preps = []
    for i in range(3):
        root = f"{ctx.work}/store{i}"
        c0 = snapshot()
        shutil.copytree(base, root)
        store = AggregateStore(spark, root)
        inbox, ckpt = f"{root}-inbox", f"{root}-ckpt"
        os.makedirs(inbox)
        preps.append(cpu_s(c0, snapshot()))
    ctx.res.setup_cpu_s = session_cpu_s + statistics.median(preps)

    def drain():
        streaming.refresh_store_availablenow(
            spark, inbox, store.root, ckpt, schema=schema,
            tiers=tuple(TIER_CHAIN), cascade=True, fold_depth=FOLD_DEPTH,
        )

    written = []

    def cycle(k: int, record: bool):
        before = store_bytes(store) if tr.enabled and record else None
        land(batches[order[k]], inbox, k)
        settle(ctx)
        c0, t0 = snapshot(), time.perf_counter()
        with tr.span("op.ingest", rows=inputs.BATCH_ROWS):
            ctx.op("drain", drain)
        if record:
            ctx.res.ingest_s.append(time.perf_counter() - t0)
            ctx.res.ingest_cpu_s.append(cpu_s(c0, snapshot()))
            ctx.res.ingest_rows.append(inputs.BATCH_ROWS)
        if before is not None:
            after = store_bytes(store)
            written.append((after[0] - before[0], after[1] - before[1]))
            ctx.res.facts["stack_depth_max"] = max(
                ctx.res.facts.get("stack_depth_max", 0), stack_depth(store))
        if record:
            plan_k = [next(plan) for _ in range(MAINTAIN_QUERIES)]
        else:  # warm-up queries once, after the last warm-up drain
            plan_k = WARM_QUERIES if k == MAINTAIN_WARM - 1 else []
        return timed_queries(ctx, store, plan_k, record)

    # warm-up: untimed cycles
    tr.phase = "warmup"
    for k in range(MAINTAIN_WARM):
        cycle(k, record=False)
    ctx.mark("warmup")

    tr.phase = "timed"
    for k in range(MAINTAIN_WARM, n_batches):
        last = cycle(k, record=True)
    _record_written(ctx, written)
    ctx.mark("timed")
    frames = finish(ctx, store, _parquet_files(raw) + batches)

    # the maintained store and the last cycle's queries against the
    # reference build
    for t in TIER_CHAIN:
        eager_t = ctx.op(f"collect eager {t}", checks.tier_frame, eager.read_tier(t), FRAME_COLS)
        ctx.check(f"{t} vs eager", None if frames[t] is None or eager_t is None
                  else checks.frame_mismatches(frames[t], eager_t, FRAME_COLS))
    for kind, src, rows in last:
        again = ctx.op("eager query", run_query, eager, kind, src)
        ctx.check(f"query {kind} {src} vs eager",
                  None if rows is None or again is None else checks.rows_mismatch(rows, again))
    ctx.mark("eager")
    return ctx.res


WORKLOADS = {"build_wide": build, "maintain_query": maintain}
#: per workload, what generates and caches its inputs; run in a process of
#: its own before a measured run, so that every measured JVM has the same
#: history whether the inputs were cached or not
PREPARE = {"build_wide": build_inputs, "maintain_query": maintain_inputs}
