"""GraphQL service: execute GraphQL documents against Spark DataFrames.

The reference is a GraphQL service over columnar tables (reference
middleware.py:41-65); this is the same architecture over PySpark:

* ``GraphQLService(roots)`` derives a GraphQL schema from each root's
  ``StructType`` (one typed Table per root; single-root mode exposes the
  table's fields at the query root, like ``GraphQL(root)``).
* Each resolver builds a new *lazy* Dataset; only scalar leaves
  (``count``, ``values``, ``row``...) launch Spark jobs.
* Scalar-leaf results are reused across requests. Each service keeps a
  result cache keyed by the leaf's canonicalized plan and kind
  (``plancache.ResultCache``), so documents written differently share a
  leaf, and a repeated leaf runs no Spark job. Concurrent requests for the
  same uncached leaf run one job and share its answer. The cache is an LRU
  bounded by ``plancache.RESULT_CACHE_ROWS`` cached rows, a fixed
  constant. Never stored: results of plans Spark marks nondeterministic
  (``rand``, ``uuid``, ``shuffle``, a nondeterministic root DataFrame),
  plans that read the clock (``current_timestamp``, ``current_date``,
  ``now``...), and failed leaves.
* Only results over snapshot roots are stored: Catalyst local relations,
  ranges, and files read by path, such as a parquet root, which keeps
  the file listing Spark took at read time (the metadata fast paths read
  those files only). Build a new service to see appended files. Leaves
  over live sources (JDBC or other external relations, catalog tables,
  RDDs) run on every request.
* When a table field has multiple table/leaf sub-selections, the first
  Spark job beneath it persists the frame (MEMORY_AND_DISK) for the rest
  of the request so sibling fields share one materialization — the
  reference's ``resolve()``/``.cache()`` trick (reference
  interface.py:83-91) — and it is unpersisted when the request finishes.
  A request answered from the result cache persists nothing.

No ASGI dependency: ``execute`` is synchronous/in-process. Any HTTP layer
can wrap it; the engine itself stays transport-neutral.
"""

from __future__ import annotations

from typing import Any, Mapping

from graphql import GraphQLSchema, graphql_sync
from pyspark.sql import DataFrame

from graphique_spark import plancache
from graphique_spark.dataset import Dataset
from graphique_spark.service.schema import SchemaBuilder


class GraphQLError(Exception):
    pass


class _PersistRegistry:
    """Refcounted, lock-serialized persist/unpersist per canonicalized plan.

    Naive per-request ``df.persist()`` / ``df.unpersist()`` is unsafe under
    concurrent requests: two threads caching the SAME logical plan race in
    Spark's CacheManager (cacheQuery's lookup->build isn't atomic across
    sessions' calls), and the losing thread's materialized InMemoryRelation
    RDD is never deregistered — measured here as persistent-RDD blocks
    accumulating across request bursts while cacheManager.isEmpty() stays
    true (an executor-memory leak on a long-lived service). One request
    unpersisting a plan another request is still using additionally forces
    recomputation. This registry keys entries by the analyzed plan's
    canonical form (a ``plancache.PlanTable``): the FIRST acquirer
    persists, later acquirers just bump the refcount, and the LAST release
    unpersists — all under one Python lock so the JVM cache mutations for
    a plan never interleave.
    """

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._entries = plancache.PlanTable()

    def acquire(self, ds: Dataset) -> dict:
        """Ensure ``ds``'s plan is persisted; returns a release token."""
        key = plancache.PlanKey(ds.df)
        with self._lock:
            ent = self._entries.get(key)
            if ent is not None:
                ent["n"] += 1
                return ent
            ent = {"key": key, "ds": ds.persist(), "n": 1}
            self._entries.put(key, ent)
            return ent

    def release(self, ent: dict) -> None:
        with self._lock:
            ent["n"] -= 1
            if ent["n"] == 0:
                self._entries.discard(ent["key"], ent)
                ent["ds"].unpersist()


class GraphQLService:
    def __init__(
        self,
        roots: Mapping[str, Dataset | DataFrame] | Dataset | DataFrame,
        allow_sql: bool = False,
        keys: Mapping[str, list[str]] | None = None,
    ):
        """``keys`` marks roots as federation entities (reference
        interface.py:93-98): ``{root_name: [key column, ...]}`` enables the
        ``_entities(representations:)`` and ``_service { sdl }`` fields."""
        if isinstance(roots, (Dataset, DataFrame)):
            roots = {"table": roots}
        self.roots = {
            name: ds if isinstance(ds, Dataset) else Dataset(ds) for name, ds in roots.items()
        }
        for name, ds in self.roots.items():  # join/union targets resolve by name
            ds.roots.update(self.roots)
            if ds._source is None:
                # toSql rendering: a root with no recorded origin (a bare
                # DataFrame) renders as its root name — runnable once the
                # caller registers a matching temp view / catalog table
                from graphique_spark import sqlrender

                ds._source = sqlrender.table_ref(name)
                ds._ops = ()
        self.allow_sql = allow_sql
        self._persist_registry = _PersistRegistry()
        self._results = plancache.ResultCache()
        self.schema: GraphQLSchema = SchemaBuilder(self.roots, keys=keys).build()

    def execute(
        self,
        query: str,
        variables: Mapping[str, Any] | None = None,
        partial: bool = False,
    ) -> dict:
        """Run a GraphQL document; raise on any error (test-client style,
        reference conftest.py:26-31). ``partial=True`` returns whatever
        resolved, with failed fields nulled — the reference's ``optional``
        partial-results behavior (reference interface.py:138-141)."""
        result = self._run(query, variables)
        if result.errors and not partial:
            raise GraphQLError(result.errors) from result.errors[0].original_error
        return result.data

    def run(
        self,
        query: str,
        variables: Mapping[str, Any] | None = None,
        metrics: bool = False,
    ) -> dict:
        """HTTP-response-shaped execution: ``{data, errors?, extensions?}``
        with formatted (JSON-safe) errors. ``metrics=True`` adds per-resolver
        wall-clock timings, the reference's Apollo-tracing-derived metrics
        extension (reference middleware.py:22-38)."""
        middleware = [_MetricsMiddleware()] if metrics else None
        import time

        start = time.perf_counter()
        result = self._run(query, variables, middleware=middleware)
        payload: dict = {"data": result.data}
        if result.errors:
            payload["errors"] = [e.formatted for e in result.errors]
        if metrics:
            from datetime import timedelta

            payload["extensions"] = {
                "metrics": {
                    "duration": str(timedelta(seconds=time.perf_counter() - start)),
                    "execution": {"resolvers": middleware[0].resolvers},
                }
            }
        return payload

    def _run(self, query, variables=None, middleware=None):
        single = len(self.roots) == 1
        root_value = next(iter(self.roots.values())) if single else None
        context = {
            "roots": self.roots,
            "allow_sql": self.allow_sql,
            "persisted": [],
            "persist_registry": self._persist_registry,
        }
        active = plancache.ACTIVE.set(self._results)
        try:
            result = graphql_sync(
                self.schema,
                query,
                root_value=root_value,
                context_value=context,
                variable_values=dict(variables or {}),
                middleware=middleware,
            )
        finally:
            plancache.ACTIVE.reset(active)
            # graphql_sync normally captures resolver errors in the result,
            # but if it raises (bad document, middleware error) the acquired
            # cache entries must still be released. Release is best-effort
            # PER TOKEN: one failing unpersist (a JVM hiccup) must neither
            # strand the remaining entries nor mask the request's result.
            for token in context["persisted"]:
                try:
                    self._persist_registry.release(token)
                except Exception as exc:  # noqa: BLE001
                    import warnings

                    warnings.warn(f"persist release failed: {exc}", stacklevel=2)
        return result


class _MetricsMiddleware:
    """Per-resolver wall-clock timing (reference MetricsExtension,
    middleware.py:22-38) as graphql-core middleware — no tracing dependency."""

    def __init__(self):
        self.resolvers: list[dict] = []

    def resolve(self, next_, root, info, **args):
        import time
        from datetime import timedelta

        start = time.perf_counter()
        out = next_(root, info, **args)
        self.resolvers.append(
            {
                "path": list(info.path.as_list()),
                "duration": str(timedelta(seconds=time.perf_counter() - start)),
            }
        )
        return out


__all__ = ["GraphQLService", "GraphQLError"]
