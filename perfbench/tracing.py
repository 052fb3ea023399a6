"""Layer timing from outside the engine.

:class:`Tracer` wraps the public entry points of each serving layer
(the GraphQL parser, ``ParseTree``, ``CubeQueryBuilder``, ``Cube``,
``SourceRegistry``, the session's DataFrame ``collect`` and
``Row.asDict``) with timing shims, records one span per call (name,
start, end, parent, request id) in memory, and derives each layer's
self time: the span's duration minus the time its child spans cover.
:meth:`Tracer.install` and :meth:`Tracer.uninstall` swap the shims in
and out, so untraced requests run the engine's own functions.

``Row.asDict`` runs once per result row, so it is not recorded as a
span per call: its outermost calls are summed into one ``server.shape``
total per request and charged to the enclosing span as child time.
"""

from __future__ import annotations

import functools
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Optional


_INHERITED = object()  # marks a patched attribute the owner did not define


@dataclass
class Span:
    req: int
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child: float = 0.0   # seconds covered by child spans

    @property
    def self_time(self) -> float:
        return self.end - self.start - self.child


@dataclass
class RequestTrace:
    """Per-request totals: layer self times (s), call counts and the
    Spark work the request's job group ran."""
    self_s: dict[str, float] = field(
        default_factory=lambda: defaultdict(float))
    calls: Counter = field(default_factory=Counter)
    rows: int = 0
    cache_lookups: int = 0
    cache_hits: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class Tracer:
    def __init__(self, spark: Any) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.requests: dict[int, RequestTrace] = {}
        self._stack: list[int] = []
        self._req: Optional[RequestTrace] = None
        self._req_id = -1
        self._shape_depth = 0
        self._patches: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans
    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(self._req_id, name, time.perf_counter(),
                               parent=parent))
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent >= 0:
            self.spans[span.parent].child += span.end - span.start
        if self._req is not None:
            self._req.self_s[span.name] += span.self_time
            self._req.calls[span.name] += 1
        return span

    def request(self, req_id: int) -> "_RequestScope":
        """Context for one request: opens the root ``server.request``
        span and runs the request under its own Spark job group."""
        return _RequestScope(self, req_id)

    # ----------------------------------------------------------- shims
    def _timed(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if self._req is None:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)
        return shim

    def _patch(self, owner: Any, attr: str, replacement: Any) -> None:
        self._patches.append((owner, attr, vars(owner).get(attr, _INHERITED)))
        setattr(owner, attr, replacement)

    def install(self) -> None:
        """Swap the timing shims in. Raises if already installed."""
        if self._patches:
            raise RuntimeError("tracer already installed")
        from pyspark.sql import Row

        from activecube_graphql_spark import server
        from activecube_graphql_spark.model import Cube
        from activecube_graphql_spark.parse_tree import ParseTree
        from activecube_graphql_spark.query import CubeQueryBuilder
        from activecube_graphql_spark.sources.registry import SourceRegistry

        tracer = self
        for owner, attr, name in [
                (server, "execute", "server.execute"),
                (server, "parse_operations", "graphql.parse"),
                (ParseTree, "__init__", "parse_tree.classify"),
                (ParseTree, "build_query", "parse_tree.fold"),
                (ParseTree, "nested_df", "parse_tree.nest"),
                (CubeQueryBuilder, "chosen_representation",
                 "query.rep_choice"),
                (SourceRegistry, "read", "sources.read")]:
            self._patch(owner, attr, self._timed(name, getattr(owner, attr)))

        size = self._timed("model.size_estimate", Cube.plan_size_bytes)
        self._patch(Cube, "plan_size_bytes", staticmethod(size))

        builder_df = CubeQueryBuilder.df
        timed_df = self._timed("query.compile", builder_df)

        @functools.wraps(builder_df)
        def df(builder, *args, **kwargs):
            req = tracer._req
            if req is not None:
                req.cache_lookups += 1
                req.cache_hits += (builder.cache_key()
                                   in builder.cube.plan_cache)
            return timed_df(builder, *args, **kwargs)
        self._patch(CubeQueryBuilder, "df", df)

        frame_cls = type(self.spark.range(1))
        collect = self._timed("spark.collect", frame_cls.collect)

        @functools.wraps(frame_cls.collect)
        def counted_collect(frame, *args, **kwargs):
            rows = collect(frame, *args, **kwargs)
            if tracer._req is not None:
                tracer._req.rows += len(rows)
            return rows
        self._patch(frame_cls, "collect", counted_collect)

        as_dict = Row.asDict

        @functools.wraps(as_dict)
        def shaped(row, *args, **kwargs):
            if tracer._req is None or tracer._shape_depth:
                return as_dict(row, *args, **kwargs)
            tracer._shape_depth += 1
            t0 = time.perf_counter()
            try:
                return as_dict(row, *args, **kwargs)
            finally:
                spent = time.perf_counter() - t0
                tracer._shape_depth -= 1
                tracer._req.self_s["server.shape"] += spent
                tracer._req.calls["server.shape"] += 1
                if tracer._stack:
                    tracer.spans[tracer._stack[-1]].child += spent
        self._patch(Row, "asDict", shaped)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if original is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # --------------------------------------------------------- export
    def span_records(self) -> list[dict]:
        records = [{"req": s.req, "name": s.name,
                    "start_ms": round(s.start * 1e3, 4),
                    "end_ms": round(s.end * 1e3, 4), "parent": s.parent}
                   for s in self.spans]
        # the per-row shaping totals, one record per request
        records += [{"req": rid, "name": "server.shape", "calls":
                     rt.calls["server.shape"],
                     "self_ms": round(rt.self_s["server.shape"] * 1e3, 4)}
                    for rid, rt in self.requests.items()]
        return records


class _RequestScope:
    def __init__(self, tracer: Tracer, req_id: int) -> None:
        self.tracer = tracer
        self.req_id = req_id
        self.group = f"perfbench-{req_id}"

    def __enter__(self) -> RequestTrace:
        t = self.tracer
        t._req_id = self.req_id
        t._req = t.requests[self.req_id] = RequestTrace()
        t.spark.sparkContext.setJobGroup(self.group, "perfbench request")
        self.idx = t._open("server.request")
        return t._req

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t._close(self.idx)
        req = t._req
        t._req, t._req_id = None, -1
        sc = t.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self.group):
            req.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks:
                    req.stages += 1
                    req.tasks += stage.numCompletedTasks
