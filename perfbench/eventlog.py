"""Spark event-log parsing and attribution of Spark work to benchmark spans.

Reads the JSON-lines event log (uncompressed, non-rolling) and keeps:

* jobs: job group, submission/completion time, stage ids;
* stages: the ``internal.metrics.*`` task totals of each completed stage
  (run time, CPU, GC, input, shuffle, output);
* SQL executions: job group, start time, and the driver-side
  ``number of files read`` of their file scans.

:func:`attribute` then gives every job, stage and SQL execution to one
span: the span whose id is the job group, else (jobs submitted from a
thread the benchmark does not drive, e.g. a streaming micro-batch) the
innermost span open at submission time. No pyspark import: the parser is
tested on a recorded log.
"""

from __future__ import annotations

import json
from collections import defaultdict

STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.recordsRead": "shuffle_read_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.output.recordsWritten": "output_records",
}
FILES_READ = "number of files read"
_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def parse(lines) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    names: dict[int, str] = {}
    files: dict[int, dict[int, float]] = defaultdict(dict)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            m = {v: 0.0 for v in STAGE_METRICS.values()}
            for a in si.get("Accumulables", []):
                key = STAGE_METRICS.get(a.get("Name"))
                if key:
                    m[key] = float(a["Value"])
            stages[si["Stage ID"]] = m  # a retried stage keeps its last attempt
        elif ev == _SQL + "SparkListenerSQLExecutionStart":
            sql[e["executionId"]] = {
                "group": e.get("jobGroupId"), "start": e["time"] / 1000.0,
            }
            _plan_metric_ids(e.get("sparkPlanInfo", {}), names)
        elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _plan_metric_ids(e.get("sparkPlanInfo", {}), names)
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, value in e["accumUpdates"]:
                # the scan posts its final value; keep the largest repost
                cur = files[e["executionId"]].get(aid, 0.0)
                files[e["executionId"]][aid] = max(cur, float(value))
    for eid, rec in sql.items():
        rec["files_read"] = sum(
            v for aid, v in files.get(eid, {}).items() if names.get(aid) == FILES_READ
        )
    return {"jobs": jobs, "stages": stages, "sql": sql}


def parse_file(path: str) -> dict:
    with open(path) as fh:
        return parse(fh)


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute(log: dict, spans: list[dict]) -> dict[str, dict]:
    """Per span id: the job ids it owns, the summed stage metrics of the
    stages those jobs ran, the owned jobs' [submit, end] intervals, and the
    files its SQL executions read. Each stage counts once, for the first
    job that lists it (later jobs list it again only as a skipped parent)."""
    by_id = {s["id"]: s for s in spans}
    owned = {
        s["id"]: {"jobs": [], "intervals": [], "files_read": 0.0,
                  "metrics": {v: 0.0 for v in STAGE_METRICS.values()}}
        for s in spans
    }

    def owner(group, t):
        if group in by_id:
            return by_id[group]
        return _innermost(spans, t)

    seen: set[int] = set()
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        span = owner(job["group"], job["submit"])
        if span is None:
            continue
        o = owned[span["id"]]
        o["jobs"].append(jid)
        o["intervals"].append((job["submit"], job["end"] or job["submit"]))
        for sid in job["stages"]:
            if sid in seen or sid not in log["stages"]:
                continue
            seen.add(sid)
            for k, v in log["stages"][sid].items():
                o["metrics"][k] += v
    for rec in log["sql"].values():
        span = owner(rec["group"], rec["start"])
        if span is not None:
            owned[span["id"]]["files_read"] += rec["files_read"]
    return owned


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
