"""Tracing for the traced benchmark run, installed from outside the program.

The engine process calls :func:`install` only when the benchmark runs with
``--trace 1``; end-to-end runs never import this module.  The wrappers go
around the public calls into each layer:

- ``Engine.query_broker_response`` (span ``engine.envelope``, the root of a
  broker request), under a per-request Spark job group whenever the
  statement carries no ``timeoutMs`` (the engine sets its own group then);
- ``Engine.query`` (``engine.query``), followed by a forced
  ``executedPlan()`` on the returned frame (``catalyst.plan``);
- the statement rewrites of ``functions.aggsql`` (``aggsql``), which
  ``Engine.query`` imports at call time, so patching the module attributes
  reaches it;
- ``DataFrame.collect`` (``exec.collect``), after which the SQL metrics of
  the executed adaptive plan are summed per operator kind.

Spans carry name, start, end, parent and request id, are kept in memory and
are written out by :meth:`Tracer.dump`.  Outside a request (no root span on
the thread) the wrappers record nothing.  Reading the counters costs py4j
round trips; that time sits in ``trace.counters`` spans, so it is not
charged to the layer being measured.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from pathlib import Path

AGGSQL_FUNCS = (
    "canonicalize_pinot_spellings",
    "inline_route_ctes",
    "rewrite_keyed_agg_statement",
    "rewrite_mode_avg_statement",
    "rewrite_mv_distinct_statement",
    "rewrite_ordered_funnel_statement",
    "rewrite_pinot_aggregates",
    "rewrite_sumarray_statement",
)
# statement routes: a non-None return means the route engaged
AGGSQL_ROUTES = frozenset(
    f for f in AGGSQL_FUNCS if f.startswith("rewrite_") and f.endswith("_statement")
)

# physical operator names whose SQL metrics feed the scan and Python counters
_SCAN_NODES = ("Scan", "BatchScan")
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                 "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "AggregateInPandas",
                 "ArrowWindowPython", "PythonMapInArrow")


class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "attrs", "children_s", "label")

    def __init__(self, name: str, parent: "Span | None", request: int | None) -> None:
        self.name = name
        self.start = time.perf_counter()
        self.end = self.start
        self.parent = parent
        self.request = request
        self.attrs: dict[str, float] = {}
        self.children_s = 0.0
        self.label = ""

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.duration - self.children_s)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)

    # -- span stack ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self) -> bool:
        return self.enabled and bool(self._stack())

    def open(self, name: str, root: bool = False) -> Span | None:
        """Open a span; a root starts a new request, any other span needs an
        enclosing one.  Returns None when nothing is recorded."""
        if not self.enabled:
            return None
        st = self._stack()
        if not st and not root:
            return None
        parent = st[-1] if st else None
        req = next(self._ids) if parent is None else parent.request
        span = Span(name, parent, req)
        st.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if span.parent is not None:
            span.parent.children_s += span.duration
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        s = self.open(name, root)
        try:
            yield s
        finally:
            self.close(s)

    # -- output ----------------------------------------------------------------

    def take(self) -> list[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out

    @staticmethod
    def dump(spans: list[Span], path: Path) -> None:
        path.write_text(json.dumps([
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent.name if s.parent is not None else None,
                "request": s.request, "self_s": s.self_s, "attrs": s.attrs,
                "label": s.label,
            }
            for s in spans
        ]))


# -- Spark counters ------------------------------------------------------------


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _walk(node, acc: dict[str, float], seen: set[int]) -> None:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), acc, seen)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), acc, seen)
        return
    if cls == "InMemoryTableScanExec":
        # a cached relation is built by the first plan that reads it: count
        # its work once, however often the plan refers to it
        cached = node.relation().cachedPlan()
        if cached.hashCode() not in seen:
            seen.add(cached.hashCode())
            _walk(cached, acc, seen)
        return
    name = node.nodeName()
    m = _metrics(node)
    if name.startswith(_SCAN_NODES):
        acc["scan_rows"] += m.get("numOutputRows", 0)
        acc["scan_bytes"] += m.get("filesSize", 0)
        acc["files_read"] += m.get("numFiles", 0)
    if name == "Exchange":
        acc["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
    if name == "BroadcastExchange":
        acc["broadcast_bytes"] += m.get("dataSize", 0)
    acc["spill_bytes"] += m.get("spillSize", 0)
    if name.startswith(_PYTHON_NODES):
        acc["python_bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
    if cls == "ReusedExchangeExec":
        return  # counted where it first ran
    it = node.children().iterator()
    while it.hasNext():
        _walk(it.next(), acc, seen)


def plan_counters(jdf) -> dict[str, float]:
    acc = dict.fromkeys(
        ("scan_rows", "scan_bytes", "files_read", "shuffle_bytes",
         "broadcast_bytes", "spill_bytes", "python_bytes"), 0.0)
    _walk(jdf.queryExecution().executedPlan(), acc, set())
    return acc


def job_counters(sc, group: str) -> dict[str, float]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info is not None else ()):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": float(len(jobs)), "stages": float(stages), "tasks": float(tasks)}


# -- wrappers ------------------------------------------------------------------


def install(spark, tracer: Tracer) -> None:
    """Wrap the layer entry points; every wrapper is a pass-through unless
    ``tracer.enabled`` and a request span is open on the calling thread."""
    from pyspark.sql.classic.dataframe import DataFrame

    from real_time_analytics_with_apache_pinot_on_aws_spark import engine as engine_mod
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions import aggsql

    sc = spark.sparkContext
    Engine = engine_mod.Engine

    orig_envelope = Engine.query_broker_response

    @functools.wraps(orig_envelope)
    def query_broker_response(self, sql):
        if not tracer.enabled:
            return orig_envelope(self, sql)
        group = None
        span = tracer.open("engine.envelope", root=True)
        span.label = sql[:80]
        if "timeoutMs" not in sql:
            group = f"bench-req-{span.request}"
            sc.setJobGroup(group, "traced broker request", False)
        try:
            return orig_envelope(self, sql)
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                with tracer.span("trace.counters"):
                    span.attrs.update(job_counters(sc, group))
            tracer.close(span)

    orig_query = Engine.query

    @functools.wraps(orig_query)
    def query(self, sql):
        if not tracer.active():
            return orig_query(self, sql)
        with tracer.span("engine.query") as span:
            df = orig_query(self, sql)
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group:
            with tracer.span("trace.counters"):
                span.attrs["jobs"] = float(len(sc.statusTracker().getJobIdsForGroup(group)))
        with tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        return df

    orig_collect = DataFrame.collect

    @functools.wraps(orig_collect)
    def collect(self):
        if not tracer.active():
            return orig_collect(self)
        span = tracer.open("exec.collect")
        try:
            rows = orig_collect(self)
        finally:
            tracer.close(span)
        with tracer.span("trace.counters"):
            span.attrs.update(plan_counters(self._jdf))
        span.attrs["result_rows"] = float(len(rows))
        return rows

    def wrap_aggsql(fname: str):
        orig = getattr(aggsql, fname)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return orig(*args, **kwargs)
            span = tracer.open("aggsql")
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if fname in AGGSQL_ROUTES and out is not None:
                span.attrs["route_hits"] = 1.0
            return out

        setattr(aggsql, fname, wrapper)

    Engine.query_broker_response = query_broker_response
    Engine.query = query
    DataFrame.collect = collect
    for fname in AGGSQL_FUNCS:
        wrap_aggsql(fname)
