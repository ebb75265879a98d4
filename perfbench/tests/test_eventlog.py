"""Tests of the event-log parser, span attribution and per-layer metrics.

    python3 -m pytest perfbench/tests -q

The sample log and spans come from ``record_sample.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import eventlog, layers, stats  # noqa: E402

DATA = os.path.join(HERE, "data")


def _sample():
    log = eventlog.parse_file(os.path.join(DATA, "sample_events.jsonl"))
    with open(os.path.join(DATA, "sample_spans.json")) as fh:
        spans = json.load(fh)
    return log, spans, {s["name"]: s for s in spans}


def _inclusive(spans, owned, span, key):
    ix = layers._Index(spans, owned)
    return ix.metric(span, key) if key != "files_read" else ix.files_read(span)


def test_parse_reads_jobs_stages_and_scan_files():
    log, _, _ = _sample()
    assert log["jobs"], "no jobs parsed"
    assert all(j["end"] is not None and j["end"] >= j["submit"] for j in log["jobs"].values())
    assert sum(s["output_records"] for s in log["stages"].values()) == 2000
    assert sum(r["files_read"] for r in log["sql"].values()) >= 1


def test_jobs_go_to_the_span_named_by_their_job_group():
    log, spans, by_name = _sample()
    owned = eventlog.attribute(log, spans)
    write = by_name["write"]
    assert owned[write["id"]]["jobs"]
    assert owned[write["id"]]["metrics"]["output_records"] == 2000
    groups = {log["jobs"][j]["group"] for j in owned[write["id"]]["jobs"]}
    assert groups == {write["id"]}


def test_lazy_plan_span_owns_no_job_and_parent_gets_the_scan():
    log, spans, by_name = _sample()
    owned = eventlog.attribute(log, spans)
    assert owned[by_name["plan"]["id"]]["jobs"] == []
    query = by_name["query"]
    assert _inclusive(spans, owned, query, "input_records") == 2000
    assert _inclusive(spans, owned, query, "files_read") >= 1


def test_job_from_another_thread_goes_to_the_open_span():
    log, spans, by_name = _sample()
    owned = eventlog.attribute(log, spans)
    assert owned[by_name["threaded"]["id"]]["jobs"]
    every = sorted(j for o in owned.values() for j in o["jobs"])
    assert every == sorted(log["jobs"])  # each job owned exactly once


def test_covered_merges_overlaps_and_clips():
    assert eventlog.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert eventlog.covered([], 0, 1) == 0


def _span(i, name, start, end, phase="timed", **attrs):
    return {"id": f"s{i}", "name": name, "parent": None, "phase": phase,
            "attrs": attrs, "start": start, "end": end}


def test_per_layer_streaming_and_retention_shapes():
    spans = [
        _span(1, "op.ingest", 0, 10),
        _span(2, "streaming.drain", 0.5, 9.5),
        _span(3, "retention.incremental_update", 1, 3, tier="1h"),
        _span(4, "retention.cascade_refresh", 3, 5, tier="1d"),
        _span(5, "retention.cascade_refresh", 5, 6, tier="1mo"),
        _span(6, "retention.fold_hot_stacks", 7, 9, tier="1h"),
        _span(7, "retention.compact", 7.5, 9, tier="1h"),
        _span(8, "session.prewarm", -20, -10, phase="setup"),
    ]
    empty = {v: 0.0 for v in eventlog.STAGE_METRICS.values()}
    owned = {s["id"]: {"jobs": [], "intervals": [], "files_read": 0.0,
                       "metrics": dict(empty)} for s in spans}
    owned["s3"].update(jobs=[1, 2], intervals=[(1.5, 2.0), (2.2, 2.8)])
    owned["s7"].update(jobs=[3], intervals=[(8, 9)])
    out = layers.per_layer(spans, owned, {"stack_depth_max": 4})
    assert out["streaming.drain_s"] == 9
    assert out["streaming.sink_s"] == 5
    assert out["streaming.start_s"] == 9 - 5 - 2
    assert out["streaming.batches"] == 1
    assert out["retention.fold_s"] == 2
    assert out["retention.jobs_per_op.incremental_update"] == 2
    assert abs(out["retention.driver_s.incremental_update"] - 0.9) < 1e-9
    assert out["retention.jobs_per_op.fold_hot_stacks"] == 1  # the nested compact's job
    assert out["retention.stack_depth_max"] == 4
    assert out["session.prewarm_s"] == 10
    assert set(out) == {name for name, _ in layers.PER_LAYER}


def test_tail_is_nearest_rank_p90():
    assert stats.tail(list(range(1, 13))) == (11, 100 * 11 / 12)
    assert stats.tail(list(range(18, 0, -1))) == (17, 100 * 17 / 18)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_benchmark_json_names_every_metric_the_code_reports():
    from perfbench.run import E2E_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
