"""The engine names the benchmark (``perfbench/``) reaches into.

perfbench changes only together with the benchmark, so an engine change
that renames or deletes a name it calls — or a keyword it passes — breaks
the benchmark run instead of a test. These tests fail first: they read the
names from perfbench itself, without a Spark session.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

from perfbench import trace

from ingestr_spark.compression import gorilla
from ingestr_spark.operators import gapfill
from ingestr_spark.retention import AggregateStore
from ingestr_spark.streaming import jobs

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
WORKLOADS = os.path.join(PERFBENCH, "workloads.py")


class _RecordingTracer(trace.Tracer):
    """Records every (owner, attr) ``instrument`` wraps; patches nothing."""

    def __init__(self):
        super().__init__(enabled=True)
        self.wrapped: list[tuple[object, str]] = []

    def wrap(self, owner, attr, name, attrs=None):
        self.wrapped.append((owner, attr))


def _workloads_tree() -> ast.Module:
    with open(WORKLOADS) as fh:
        return ast.parse(fh.read())


def test_traced_run_wraps_existing_names():
    tracer = _RecordingTracer()
    trace.instrument(tracer)
    assert tracer.wrapped
    missing = [
        (getattr(owner, "__name__", owner), attr)
        for owner, attr in tracer.wrapped if not hasattr(owner, attr)
    ]
    assert missing == []


def test_drain_call_binds_refresh_signature():
    """Every ``streaming.refresh_store_availablenow(...)`` call in the
    workloads binds to the engine's signature, keywords included."""
    calls = [
        node for node in ast.walk(_workloads_tree())
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "refresh_store_availablenow"
    ]
    assert calls
    sig = inspect.signature(jobs.refresh_store_availablenow)
    for call in calls:
        keywords = [k.arg for k in call.keywords]
        assert {"schema", "tiers", "cascade", "fold_depth"} <= set(keywords)
        sig.bind(*[None] * len(call.args), **{k: None for k in keywords})


def test_workload_attributes_exist():
    """Every ``gorilla.*``, ``gapfill.*``, ``streaming.*`` and store
    attribute the workloads read exists in the engine."""
    owners = {
        "gorilla": gorilla,
        "gapfill": gapfill,
        "streaming": jobs,
        # instance attributes (root, spark) come from __init__
        "store": AggregateStore(None, "/nonexistent-store"),
        "warm": AggregateStore(None, "/nonexistent-store"),
    }
    seen = set()
    for node in ast.walk(_workloads_tree()):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in owners):
            seen.add((node.value.id, node.attr))
    assert {o for o, _ in seen} == set(owners)
    missing = sorted((o, a) for o, a in seen if not hasattr(owners[o], a))
    assert missing == []


def test_perfbench_engine_imports_resolve():
    """Every ``from ingestr_spark... import NAME`` in perfbench's modules,
    function-local ones included, names an attribute or a submodule that
    exists."""
    missing, seen = [], set()
    for path in sorted(glob.glob(os.path.join(PERFBENCH, "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "ingestr_spark"):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                seen.add(alias.name)
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append((os.path.basename(path), node.module, alias.name))
    assert {"ACC_COLS", "TIER_GRAIN", "TIER_CHAIN", "EPOCH", "synth_tokens",
            "get_spark"} <= seen
    assert missing == []
