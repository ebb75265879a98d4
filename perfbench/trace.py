"""Spans around the engine's public calls, for the traced run.

A span records name, start, end, parent, the benchmark phase it ran in and
a few call attributes. Spark is lazy, so a span's wall alone says little:
each span opened on the main thread also becomes the Spark job group, and
the event-log parser (:mod:`perfbench.eventlog`) hands every job, stage
and SQL execution to the span that owns it. Spans opened on other threads
(the streaming ``foreachBatch`` sink runs on a Py4J callback thread) leave
the job group alone and are placed by time instead.

Spans live in memory until :meth:`Tracer.dump`. With ``enabled=False``
every span is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # SparkContext, set once the session exists
        self.phase = "setup"
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._n = 0

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, top: dict | None) -> None:
        if self.sc is None:
            return
        if top is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(top["id"], top["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        on_main = stack is self._main_stack
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            self._n += 1
            sid = f"pb-{self._n}"
        rec = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "phase": self.phase, "attrs": attrs, "start": time.time(),
        }
        stack.append(rec)
        if on_main:
            self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if on_main:
                self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        ``attrs(*args, **kwargs)`` picks the call attributes to record."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


def _arg(pos: int, key: str, default=None):
    """Attribute picker for ``wrap``: argument ``pos`` (0 = self) or
    keyword ``key``."""

    def pick(*args, **kwargs):
        if key in kwargs:
            return kwargs[key]
        return args[pos] if len(args) > pos else default

    return pick


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the benchmark attributes:
    ``session`` (prewarm), ``retention`` (AggregateStore), ``streaming``
    (the AvailableNow drain), ``codec`` (tier pack/unpack) and ``gapfill``
    (spine join and fills). The rollup operators are plain plan builders
    called from inside AggregateStore; their work is attributed through
    the store calls that run it."""
    if not tracer.enabled:
        return
    from ingestr_spark import session
    from ingestr_spark.compression import gorilla
    from ingestr_spark.operators import gapfill
    from ingestr_spark.retention import AggregateStore
    from ingestr_spark.streaming import jobs

    tier = _arg(1, "tier")
    tracer.wrap(session, "_prewarm", "session.prewarm")
    tracer.wrap(
        AggregateStore, "build_tier", "retention.build_tier",
        lambda *a, **k: {"tier": tier(*a, **k),
                         "from_tier": _arg(3, "from_tier")(*a, **k)},
    )
    tracer.wrap(AggregateStore, "build_all", "retention.build_all")
    tracer.wrap(
        AggregateStore, "incremental_update", "retention.incremental_update",
        lambda *a, **k: {"tier": tier(*a, **k)},
    )
    tracer.wrap(
        AggregateStore, "cascade_refresh", "retention.cascade_refresh",
        lambda *a, **k: {"tier": _arg(2, "coarser")(*a, **k)},
    )
    tracer.wrap(
        AggregateStore, "read_tier", "retention.read_tier",
        lambda *a, **k: {"tier": tier(*a, **k)},
    )
    tracer.wrap(AggregateStore, "compact", "retention.compact",
                lambda *a, **k: {"tier": tier(*a, **k)})
    tracer.wrap(AggregateStore, "fold_hot_stacks", "retention.fold_hot_stacks",
                lambda *a, **k: {"tier": tier(*a, **k)})
    tracer.wrap(jobs, "refresh_store_availablenow", "streaming.drain")
    tracer.wrap(gorilla, "compress_tier", "codec.compress_tier")
    tracer.wrap(gorilla, "decompress_tier", "codec.decompress_tier")
    for fn in ("spine_join", "locf", "interpolate_linear"):
        tracer.wrap(gapfill, fn, f"gapfill.{fn}")
