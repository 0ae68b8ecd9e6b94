"""Spans and Spark counters recorded from outside the program.

The tracer wraps methods on one ``TimeseriesEngine`` *instance* and the
actions on the DataFrames those methods return; the classes themselves are
never touched. Spans stay in memory and are written out when the run ends.
Spark work per op is read from ``SparkContext.statusTracker()`` as job-ID
deltas, which attribute cleanly because traced runs drive one op at a time.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

#: Engine methods wrapped in an ``api.<name>`` span.
API_METHODS = ("query_by_id", "latest", "ingest_rows", "update_rows", "run_fault_detection", "compact")
#: DataFrame actions wrapped in a ``spark.action`` span.
_ACTIONS = ("collect", "count", "toPandas")


class Span:
    __slots__ = ("id", "parent", "request", "name", "t0", "t1", "attrs")

    def __init__(self, sid, parent, request, name, attrs):
        self.id, self.parent, self.request, self.name = sid, parent, request, name
        self.attrs = attrs
        self.t0 = time.perf_counter()
        self.t1 = None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class Tracer:
    """Records spans when enabled; every method is a cheap no-op otherwise.

    A span's parent is the innermost open span of the calling thread, or,
    for a thread with none open (an HTTP handler thread serving the
    request), the open root span: traced runs keep one root open at a time.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (None if root else self._root)
        request = parent.request if parent is not None else next(self._ids)
        sp = Span(next(self._ids), parent.id if parent else None, request, name, attrs)
        stack.append(sp)
        if root:
            self._root = sp
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            with self._lock:
                self.spans.append(sp)

    def wrap_dataframe(self, df):
        """Time the actions a caller runs on ``df`` as ``spark.action``
        spans; ``toLocalIterator`` counts until the iterator is drained."""
        for name in _ACTIONS:
            orig = getattr(df, name)

            def action(*a, _orig=orig, _name=name, **kw):
                with self.span("spark.action", action=_name):
                    return _orig(*a, **kw)

            setattr(df, name, action)
        orig_iter = df.toLocalIterator

        def to_local_iterator(*a, **kw):
            with self.span("spark.action", action="toLocalIterator") as sp:
                n = 0
                for row in orig_iter(*a, **kw):
                    n += 1
                    yield row
                if sp is not None:
                    sp.attrs["rows"] = n

        df.toLocalIterator = to_local_iterator
        return df

    def instrument(self, engine) -> None:
        """Wrap the engine instance's API methods in ``api.<name>`` spans."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrame

        for name in API_METHODS:
            orig = getattr(engine, name)

            def method(*a, _orig=orig, _name=name, **kw):
                with self.span(f"api.{_name}") as sp:
                    out = _orig(*a, **kw)
                if sp is None:  # tracing paused for an untraced twin op
                    return out
                if isinstance(out, DataFrame):
                    sp.attrs["df"] = out
                    return self.wrap_dataframe(out)
                sp.attrs["result"] = out
                return out

            setattr(engine, name, method)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                attrs = {k: v for k, v in s.attrs.items() if k != "df"}
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "request": s.request, "name": s.name,
                    "t0": s.t0, "t1": s.t1, "self_ms": self_ms(s, self.children(s)),
                    "attrs": attrs,
                }, default=str) + "\n")

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]


def self_ms(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, end = 0.0, span.t0
    for c in sorted(children, key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, span.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return span.ms - covered * 1e3


class SparkCounters:
    """Jobs, stages and tasks Spark ran since the last ``mark()``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._last = -1
        self.mark()

    def _settle(self) -> None:
        # the status store is fed by the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._settle()
        self._last = max(self._tracker.getJobIdsForGroup(None) or [-1])

    def delta(self) -> dict[str, int]:
        self._settle()
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j > self._last]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                si = self._tracker.getStageInfo(st)
                if si is not None and si.numCompletedTasks + si.numFailedTasks:
                    out["stages"] += 1
                    out["tasks"] += si.numCompletedTasks
                    out["failed_tasks"] += si.numFailedTasks
        self._last = max(jobs + [self._last])
        return out
