"""In-memory span tracing around the engine's public entry points.

The benchmark measures its end-to-end metrics with tracing off. A traced
run installs :class:`Tracer` wrappers — from this file, without touching the
engine — around the calls into each layer, records one span per call
(name, start, end, parent, request id) in memory, and writes the spans out
when the run ends. Spark work per request is attributed through a job group
named after the request id and read back from ``statusTracker``.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import inspect
import itertools
import json
import time

#: (span id, request id) of the innermost open span in this context;
#: ``asyncio.to_thread`` copies the context, so spans opened in a worker
#: thread see the request's ASGI span as their parent
_CURRENT: contextvars.ContextVar[tuple[int, str | None] | None] = contextvars.ContextVar(
    "perfbench_span", default=None
)

#: span names of DataFrame materialisations (the Spark job boundary)
MATERIALIZERS = ("collect", "count", "toArrow", "toLocalIterator", "toPandas")


class Tracer:
    """Records spans while installed; :meth:`uninstall` restores every
    patched attribute, so untraced slices run the engine's own code."""

    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None, str | None]] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self.counts: dict[int, int] = {}  # span id -> items the call returned

    # -- spans -----------------------------------------------------------------

    def request(self, rid: str):
        """Bind ``rid`` as the request id of spans opened in this context."""
        return _CURRENT.set((0, rid))

    def _open(self, name):
        parent = _CURRENT.get()
        sid = next(self._ids)
        rid = parent[1] if parent else None
        token = _CURRENT.set((sid, rid))
        return sid, rid, (parent[0] or None) if parent else None, token

    def _close(self, name, sid, rid, parent, token, start):
        self.spans.append((sid, name, start, time.perf_counter(), parent, rid))
        _CURRENT.reset(token)

    def call(self, name, fn, *args, **kwargs):
        sid, rid, parent, token = self._open(name)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(name, sid, rid, parent, token, start)

    def _counted(self, name, fn):
        """Like :meth:`wrap`, also recording how many items the call
        returned (the parquet footers a metadata walk read)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid, rid, parent, token = self._open(name)
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                self.counts[sid] = len(out)
                return out
            finally:
                self._close(name, sid, rid, parent, token, start)

        return traced

    def wrap(self, name, fn):
        if inspect.iscoroutinefunction(fn):

            @functools.wraps(fn)
            async def traced_async(*args, **kwargs):
                sid, rid, parent, token = self._open(name)
                start = time.perf_counter()
                try:
                    return await fn(*args, **kwargs)
                finally:
                    self._close(name, sid, rid, parent, token, start)

            return traced_async

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    # -- patching ----------------------------------------------------------------

    def patch(self, owner, attr: str, name: str, wrapper=None):
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, (wrapper or self.wrap)(name, original))

    def install(self, spark):
        """Wrap the entry point of each layer; the span name is the layer."""
        from importlib import import_module

        from graphique_spark import sources
        from graphique_spark.dataset import Dataset
        from graphique_spark.service import GraphQLService, asgi, translate
        from graphique_spark.service.schema import SchemaBuilder

        self.patch(asgi.GraphQLApp, "__call__", "service.asgi")
        self.patch(GraphQLService, "run", "service.run", self._job_group(spark))
        # graphql_sync parses and validates through these module globals
        self.patch(import_module("graphql.graphql"), "parse", "service.parse")
        self.patch(import_module("graphql.validation"), "validate", "service.validate")
        self.patch(SchemaBuilder, "build", "service.schema.build")
        self.patch(translate, "compile_dataset", "service.translate")
        self.patch(Dataset, "to_sql", "sqlrender.to_sql")
        self.patch(Dataset, "persist", "dataset.persist")
        self.patch(Dataset, "unpersist", "dataset.unpersist")
        frame = type(spark.range(1))
        for method in MATERIALIZERS:
            self.patch(frame, method, f"dataset.{method}")
        self.patch(sources, "load_tables", "sources.load_tables")
        self.patch(sources, "write_partitioned", "sources.write_partitioned")
        self.patch(
            sources, "partition_file_counts", "sources.partition_file_counts", self._counted
        )

    def uninstall(self):
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def _job_group(self, spark):
        """Wrapper for ``GraphQLService.run``: a span plus a Spark job group
        named after the request id, so jobs and tasks count per request."""

        def make(name, fn):
            @functools.wraps(fn)
            def traced(service, *args, **kwargs):
                current = _CURRENT.get()
                with job_group(spark, current[1] if current else None):
                    return self.call(name, fn, service, *args, **kwargs)

            return traced

        return make

    # -- output --------------------------------------------------------------------

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "request")
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(dict(zip(keys, span))) + "\n")


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag the Spark jobs this thread starts with ``group``; the tag is
    removed afterwards, so later untraced work on a reused thread is not
    counted against it."""
    if not group:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span may overlap only when they run concurrently,
    which the entry points traced here never do)."""
    child_time: dict[int, float] = {}
    for _sid, _name, start, end, parent, _rid in spans:
        if parent:
            child_time[parent] = child_time.get(parent, 0.0) + (end - start)
    return {sid: (end - start) - child_time.get(sid, 0.0) for sid, _n, start, end, _p, _r in spans}


def job_counts(spark, groups, timeout: float = 5.0) -> dict[str, tuple[int, int]]:
    """Job group -> (jobs, tasks), from ``statusTracker`` once every listed
    group's jobs have finished reporting (the listener bus is asynchronous)."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        out, pending = {}, False
        for group in groups:
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is None or info.status == "RUNNING":
                    pending = True
                    continue
                for stage in info.stageIds:
                    stage_info = tracker.getStageInfo(stage)
                    tasks += stage_info.numTasks if stage_info else 0
            out[group] = (len(jobs), tasks)
        if not pending or time.monotonic() > deadline:
            return out
        time.sleep(0.05)
