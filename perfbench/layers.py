"""Per-layer metrics of the traced run, computed from spans, the Spark work
attributed to them (:mod:`perfbench.eventlog`) and a few facts the
workload measures directly (store bytes, stack depth, in-process codec).

Only spans of the timed phase count, except the codec metrics (the pack
phase) and ``session.prewarm_s`` (set-up). Per-op values are means per
timed ingest op (a build, or a streaming drain) or per query. A layer a
workload never calls reports 0.
"""

from __future__ import annotations

from perfbench.eventlog import covered

RETENTION_OPS = (
    "incremental_update", "cascade_refresh", "read_tier", "compact",
    "fold_hot_stacks", "build_tier",
)

#: (name, unit) of every per-layer metric, in report order
PER_LAYER: list[tuple[str, str]] = [
    ("rollup.scan_mb", "MB"),
    ("rollup.shuffle_write_mb", "MB"),
    ("rollup.task_cpu_s", "s"),
    ("rollup.gc_s", "s"),
    ("rollup.raw_rows_per_tier_row", "ratio"),
    ("retention.build_tier_s.1h", "s"),
    ("retention.build_tier_s.1d", "s"),
    ("retention.build_tier_s.1mo", "s"),
    ("retention.bytes_written", "B"),
    ("retention.files_written", "count"),
    *[(f"retention.jobs_per_op.{op}", "count") for op in RETENTION_OPS],
    *[(f"retention.driver_s.{op}", "s") for op in RETENTION_OPS],
    ("retention.fold_s", "s"),
    ("retention.write_amp", "ratio"),
    ("retention.stack_depth_max", "count"),
    ("streaming.drain_s", "s"),
    ("streaming.sink_s", "s"),
    ("streaming.start_s", "s"),
    ("streaming.batches", "count"),
    ("codec.encode_mpts_per_s", "Mpt/s"),
    ("codec.decode_mpts_per_s", "Mpt/s"),
    ("codec.ts_bytes_per_point", "B"),
    ("codec.val_bytes_per_point", "B"),
    ("codec.pack_mpts_per_s", "Mpt/s"),
    ("codec.pack_task_cpu_s", "s"),
    ("gapfill.query_jobs", "count"),
    ("gapfill.query_task_cpu_s", "s"),
    ("query.driver_s", "s"),
    ("query.files_read", "count"),
    ("query.rows_scanned_per_row_returned", "ratio"),
    ("session.prewarm_s", "s"),
    ("trace.ingest_cpu_s", "s"),
    ("trace.query_cpu_ms", "ms"),
    ("trace.ingest_p50_s", "s"),
    ("trace.query_p50_ms", "ms"),
]


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class _Index:
    """Inclusive view of the attribution: a span's work is its own plus
    that of every span nested inside it in time (one client, so time
    nesting is the call tree, across the streaming callback thread too)."""

    def __init__(self, spans: list[dict], owned: dict[str, dict]):
        self.spans = spans
        self.owned = owned

    def inside(self, s: dict) -> list[dict]:
        return [t for t in self.spans
                if s["start"] <= t["start"] and t["end"] <= s["end"]]

    def jobs(self, s: dict) -> int:
        return sum(len(self.owned[t["id"]]["jobs"]) for t in self.inside(s))

    def metric(self, s: dict, key: str) -> float:
        return sum(self.owned[t["id"]]["metrics"][key] for t in self.inside(s))

    def files_read(self, s: dict) -> float:
        return sum(self.owned[t["id"]]["files_read"] for t in self.inside(s))

    def driver_s(self, s: dict) -> float:
        ivs = [iv for t in self.inside(s) for iv in self.owned[t["id"]]["intervals"]]
        return (s["end"] - s["start"]) - covered(ivs, s["start"], s["end"])


def per_layer(spans: list[dict], owned: dict[str, dict], facts: dict) -> dict[str, float]:
    ix = _Index(spans, owned)

    def named(name: str, phase: str = "timed") -> list[dict]:
        return [s for s in spans if s["name"] == name and s["phase"] == phase]

    def wall(s: dict) -> float:
        return s["end"] - s["start"]

    out: dict[str, float] = {}
    n_ingest = max(1, len(named("op.ingest")))

    # rollup: the raw -> first-tier aggregation, run by a build of the
    # first tier from raw or by a streaming merge of a raw batch
    roll = [s for s in named("retention.build_tier") if s["attrs"].get("from_tier") is None]
    roll += named("retention.incremental_update")
    tot = {k: sum(ix.metric(s, k) for s in roll) for k in (
        "input_bytes", "shuffle_write_bytes", "cpu_ns", "gc_ms",
        "input_records", "output_records")}
    out["rollup.scan_mb"] = tot["input_bytes"] / 1e6 / n_ingest
    out["rollup.shuffle_write_mb"] = tot["shuffle_write_bytes"] / 1e6 / n_ingest
    out["rollup.task_cpu_s"] = tot["cpu_ns"] / 1e9 / n_ingest
    out["rollup.gc_s"] = tot["gc_ms"] / 1e3 / n_ingest
    out["rollup.raw_rows_per_tier_row"] = (
        tot["input_records"] / tot["output_records"] if tot["output_records"] else 0.0
    )

    builds = named("retention.build_tier")
    for t in ("1h", "1d", "1mo"):
        out[f"retention.build_tier_s.{t}"] = _mean(
            [wall(s) for s in builds if s["attrs"].get("tier") == t])
    out["retention.bytes_written"] = float(facts.get("bytes_written_per_op", 0.0))
    out["retention.files_written"] = float(facts.get("files_written_per_op", 0.0))
    for op in RETENTION_OPS:
        calls = named(f"retention.{op}")
        out[f"retention.jobs_per_op.{op}"] = _mean([ix.jobs(s) for s in calls])
        out[f"retention.driver_s.{op}"] = _mean([ix.driver_s(s) for s in calls])
    folds = named("retention.fold_hot_stacks")
    out["retention.fold_s"] = sum(wall(s) for s in folds) / n_ingest
    out["retention.write_amp"] = float(facts.get("write_amp", 0.0))
    out["retention.stack_depth_max"] = float(facts.get("stack_depth_max", 0.0))

    drains = named("streaming.drain")
    sinks, fold_in, batches = [], [], []
    for d in drains:
        inner = ix.inside(d)
        merges = [s for s in inner if s["name"] == "retention.incremental_update"]
        refresh = [s for s in inner if s["name"] == "retention.cascade_refresh"]
        sinks.append(sum(wall(s) for s in merges + refresh))
        fold_in.append(sum(wall(s) for s in inner if s["name"] == "retention.fold_hot_stacks"))
        batches.append(len([s for s in merges if s["attrs"].get("tier") == "1h"]))
    out["streaming.drain_s"] = _mean([wall(d) for d in drains])
    out["streaming.sink_s"] = _mean(sinks)
    out["streaming.start_s"] = _mean(
        [wall(d) - s - f for d, s, f in zip(drains, sinks, fold_in)])
    out["streaming.batches"] = _mean(batches)

    for k in ("encode_mpts_per_s", "decode_mpts_per_s", "ts_bytes_per_point",
              "val_bytes_per_point", "pack_mpts_per_s"):
        out[f"codec.{k}"] = float(facts.get(f"codec.{k}", 0.0))
    out["codec.pack_task_cpu_s"] = sum(
        ix.metric(s, "cpu_ns") for s in named("op.pack", "pack")) / 1e9

    queries = named("op.query")
    out["gapfill.query_jobs"] = _mean([ix.jobs(s) for s in queries])
    out["gapfill.query_task_cpu_s"] = _mean([ix.metric(s, "cpu_ns") / 1e9 for s in queries])
    out["query.driver_s"] = _mean([ix.driver_s(s) for s in queries])
    out["query.files_read"] = _mean([ix.files_read(s) for s in queries])
    returned = sum(s["attrs"].get("rows", 0) for s in queries)
    scanned = sum(ix.metric(s, "input_records") for s in queries)
    out["query.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0

    out["session.prewarm_s"] = sum(wall(s) for s in named("session.prewarm", "setup"))
    for k in ("trace.ingest_cpu_s", "trace.query_cpu_ms",
              "trace.ingest_p50_s", "trace.query_p50_ms"):
        out[k] = float(facts.get(k, 0.0))
    return out
