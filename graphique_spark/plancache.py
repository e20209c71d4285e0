"""Plan-keyed state shared across requests.

Two DataFrames built along different paths can compute the same result:
two GraphQL documents that reach one leaf through different aliases,
argument order or sibling fields build equal plans. Catalyst decides
"same result" with ``semanticHash`` (a hash of the canonicalized analyzed
plan) and ``sameResult`` (equality of canonicalized plans); ``PlanTable``
keys on exactly that. The GraphQL service keeps two such tables: its
refcounted persist registry and its scalar-leaf ``ResultCache``.

Every scalar-leaf materialization (``Dataset.count/any/row/values``, the
typed Column leaves) goes through ``Dataset._leaf``. Outside a service
request it just runs the job; inside one, the service has set
:data:`ACTIVE` to its ``ResultCache``, which answers the leaf.
"""

from __future__ import annotations

import contextvars
import copy
import datetime
import decimal
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

#: bound of one service's result cache, in cached rows: a list result
#: counts its length, anything else one row. It also bounds the entries,
#: each of which pins its analyzed plan in the JVM.
RESULT_CACHE_ROWS = 10_000

#: values callers cannot mutate, returned without a copy
_ATOMIC = (
    type(None), bool, int, float, str, bytes, decimal.Decimal,
    datetime.date, datetime.time, datetime.timedelta,
)

#: the result cache of the service request running in this context; the
#: service sets it for the duration of a request
ACTIVE: contextvars.ContextVar["ResultCache | None"] = contextvars.ContextVar(
    "graphique_result_cache", default=None
)

#: leaf relations whose rows are fixed once the plan is analyzed
_FIXED_LEAVES = frozenset(
    "org.apache.spark.sql.catalyst.plans.logical." + name
    for name in ("LocalRelation", "Range", "OneRowRelation")
)
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FILE_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_FILE_LISTING = "org.apache.spark.sql.execution.datasources.InMemoryFileIndex"


class PlanKey:
    """A DataFrame's analyzed plan plus a caller ``tag`` (the leaf kind).
    Equal keys have equal tags and ``sameResult`` plans.

    ``semanticHash`` and ``sameResult`` canonicalize the plan themselves;
    they must not be given an already canonicalized plan: canonicalizing
    twice can map different column references to one ordinal, so
    ``sum(v)`` and ``count(*)`` of one aggregate would compare equal."""

    __slots__ = ("plan", "hash")

    def __init__(self, df: DataFrame, tag: Hashable = None):
        self.plan = df._jdf.queryExecution().analyzed()
        self.hash = (self.plan.semanticHash(), tag)

    def reusable(self) -> bool:
        """Whether running the plan again must give the same answer: every
        leaf relation is a snapshot (:func:`_snapshot`), Spark marks the
        plan deterministic (no ``rand``/``uuid``/``shuffle``...) and no
        expression reads the clock (``current_timestamp``, ``now``...,
        which Spark counts as deterministic within one query)."""
        plan = self.plan
        if not plan.deterministic() or plan.containsPattern(_current_like()):
            return False
        leaves = plan.collectLeaves()
        return all(_snapshot(leaves.apply(i)) for i in range(leaves.size()))


def _snapshot(leaf) -> bool:
    """Whether a leaf relation's rows were fixed when its plan was read:
    a local relation, a range, or files listed at read time (a path read
    such as ``sources.read_parquet``). Live sources are not: JDBC and other
    external relations, catalog tables (a write to the table refreshes its
    listing), and RDDs, which may compute from anything."""
    name = leaf.getClass().getName()
    if name in _FIXED_LEAVES:
        return True
    if name != _LOGICAL_RELATION or leaf.catalogTable().isDefined():
        return False
    relation = leaf.relation()
    return (
        relation.getClass().getName() == _FILE_RELATION
        and relation.location().getClass().getName() == _FILE_LISTING
    )


_CURRENT_LIKE = None


def _current_like():
    """Catalyst's tree pattern of the clock-reading expressions."""
    global _CURRENT_LIKE
    if _CURRENT_LIKE is None:
        from pyspark import SparkContext

        jvm = SparkContext._jvm
        _CURRENT_LIKE = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE()
    return _CURRENT_LIKE


class PlanTable:
    """Values keyed by :class:`PlanKey`: the hash picks a bucket,
    ``sameResult`` confirms. Not locked — callers serialize access."""

    def __init__(self):
        self._buckets: dict[tuple, list[tuple[PlanKey, Any]]] = {}

    def get(self, key: PlanKey) -> Any:
        for other, value in self._buckets.get(key.hash, ()):
            if other.plan.sameResult(key.plan):
                return value
        return None

    def put(self, key: PlanKey, value: Any) -> None:
        self._buckets.setdefault(key.hash, []).append((key, value))

    def discard(self, key: PlanKey, value: Any) -> None:
        """Drop the entry holding ``value`` (by identity) under ``key``."""
        bucket = self._buckets.get(key.hash, [])
        bucket[:] = [(k, v) for k, v in bucket if v is not value]
        if not bucket:
            self._buckets.pop(key.hash, None)


class _Slot:
    """One leaf result: in flight until ``ready`` is set; ``ok`` tells the
    waiters whether ``value`` holds the answer or the run failed."""

    __slots__ = ("key", "value", "rows", "ok", "ready")

    def __init__(self, key: PlanKey):
        self.key = key
        self.value: Any = None
        self.rows = 0
        self.ok = False
        self.ready = threading.Event()


class ResultCache:
    """LRU of scalar-leaf results keyed by plan and leaf kind, bounded by
    :data:`RESULT_CACHE_ROWS` cached rows, with single-flight misses:
    concurrent requests for one uncached leaf run one job and the others
    wait for its answer. Results of non-reusable plans
    (:meth:`PlanKey.reusable`) and failed runs are never stored. Every
    caller gets its own copy, so no caller can change a stored result."""

    def __init__(self):
        self.max_rows = RESULT_CACHE_ROWS
        self._lock = threading.Lock()
        self._table = PlanTable()
        self._lru: OrderedDict[_Slot, None] = OrderedDict()
        self._rows = 0

    def __len__(self) -> int:
        return len(self._lru)

    def get(self, df: DataFrame, kind: Hashable, run: Callable[[], T]) -> T:
        """The result of ``run()`` (which materializes ``df``) for leaf
        ``kind``: stored, awaited from a concurrent run, or computed."""
        key = PlanKey(df, kind)
        checked = False
        while True:
            with self._lock:
                slot = self._table.get(key)
                if slot is None and checked:
                    slot = _Slot(key)
                    self._table.put(key, slot)
                    break  # this request runs the job
                stored = slot is not None and slot.ready.is_set()
                if stored:
                    self._lru.move_to_end(slot)
            if stored:
                return _copy(slot.value)  # outside the lock: copies can be long
            if slot is None:
                if not key.reusable():
                    return run()
                checked = True  # look again under the lock, then claim
                continue
            slot.ready.wait()
            if slot.ok:
                return _copy(slot.value)
            # the run failed and was dropped: try again (maybe as the runner)
        return self._fill(slot, run)

    def _fill(self, slot: _Slot, run: Callable[[], T]) -> T:
        try:
            value = run()
        except BaseException:
            with self._lock:
                self._table.discard(slot.key, slot)
            slot.ready.set()
            raise
        slot.value, slot.ok = value, True
        slot.rows = max(len(value), 1) if isinstance(value, list) else 1
        with self._lock:
            if slot.rows > self.max_rows:
                self._table.discard(slot.key, slot)
            else:
                self._lru[slot] = None
                self._rows += slot.rows
                while self._rows > self.max_rows:
                    old, _ = self._lru.popitem(last=False)
                    self._table.discard(old.key, old)
                    self._rows -= old.rows
        slot.ready.set()
        return _copy(value)


def _copy(value):
    return value if isinstance(value, _ATOMIC) else copy.deepcopy(value)
