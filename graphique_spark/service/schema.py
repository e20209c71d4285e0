"""GraphQL schema generation from a Spark ``StructType``.

Mirrors the reference's dynamic schema machinery (reference
middleware.py:104-157, models.py:47-68, inputs.py:80-90) on graphql-core:
for each root table a ``Table`` object type is generated with

* typed ``columns`` / ``row`` fields (one field per column),
* a typed ``filter`` field whose *arguments* are the columns (each a
  per-dtype ``Filter`` input), AND-ed with a ``where`` expression tree,
* every relational operator (``group order first slice distinct runs
  unnest unpack project cast fillNull dropNull take join crossJoin
  asofJoin union intersect difference sql``) as a field returning the
  same Table type — so a nested GraphQL selection *is* a dataflow
  pipeline over lazy DataFrames, optimized by Catalyst at the leaves.

Columns created at query time (aggregate aliases, projections) are
reached via the untyped ``column(name:)`` field, as in the reference
(docs/api.md:3-22).
"""

from __future__ import annotations

import copy
import re
import warnings
from typing import Any, Mapping

from graphql import (
    GraphQLArgument,
    GraphQLBoolean,
    GraphQLField,
    GraphQLFloat,
    GraphQLInputField,
    GraphQLInputObjectType,
    GraphQLInt,
    GraphQLList,
    GraphQLNonNull,
    GraphQLObjectType,
    GraphQLScalarType,
    GraphQLSchema,
    GraphQLString,
    Undefined,
)
from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from graphique_spark.dataset import Dataset
from graphique_spark.inputs import Agg, Filter as ColFilter
from graphique_spark.service.expressions import EXPRESSION, compile_expression
from graphique_spark.service.scalars import JSON, BigInt, Duration, graphql_type

_NAME = re.compile(r"[_A-Za-z][_0-9A-Za-z]*$")


def _with_cache(fn):
    """Share a table field's frame among its sub-selections, the
    reference's ``resolve()``/``.cache()`` trick (reference
    interface.py:83-91). When the field has multiple sub-selections, the
    first Spark job of a leaf beneath it persists the frame through the
    service's refcounted persist registry, so sibling fields share one
    materialization; the service releases everything recorded in
    ``context['persisted']`` at request end. Persisting on a job, not
    up front, means a request whose leaves all come from the result cache
    persists nothing, and a persisted frame is materialized by the request
    that holds it. Without a registry (compile-only) nothing is persisted."""

    def wrapper(ds, info, **kwargs):
        out = fn(ds, info, **kwargs)
        node = info.field_nodes[0]
        selections = node.selection_set.selections if node.selection_set else []
        context = info.context or {}
        registry = context.get("persist_registry")
        if len(selections) > 1 and isinstance(out, Dataset) and registry is not None:
            # a copy: `optional` returns its input, which may be a root
            out = copy.copy(out)
            outer, held = out._before_job, False

            def persist_frame():
                nonlocal held
                if outer is not None:
                    outer()  # an enclosing shared frame is persisted first
                if not held:
                    held = True
                    # refcounted + lock-serialized: concurrent requests
                    # caching the same plan share one entry instead of
                    # racing Spark's CacheManager (service._PersistRegistry)
                    context["persisted"].append(registry.acquire(out))

            out._before_job = persist_frame
        return out

    return wrapper


StringList = GraphQLList(GraphQLNonNull(GraphQLString))


def _given(args: Mapping[str, Any]) -> dict[str, Any]:
    """Drop GraphQL ``Undefined`` (absent) arguments."""
    return {k: v for k, v in args.items() if v is not Undefined}


# ---------------------------------------------------------------------------
# per-dtype Filter inputs (reference inputs.py:66-122)

_filter_inputs: dict[str, GraphQLInputObjectType] = {}


def filter_input(scalar: GraphQLScalarType) -> GraphQLInputObjectType:
    name = f"{scalar.name}Filter"
    if name not in _filter_inputs:
        lst = GraphQLList(scalar)  # nullable elements: eq: null matches nothing
        _filter_inputs[name] = GraphQLInputObjectType(
            name,
            {
                "eq": GraphQLInputField(lst),
                "ne": GraphQLInputField(lst),
                "lt": GraphQLInputField(scalar),
                "le": GraphQLInputField(scalar),
                "gt": GraphQLInputField(scalar),
                "ge": GraphQLInputField(scalar),
            },
        )
    return _filter_inputs[name]


def array_filter_input(scalar: GraphQLScalarType) -> GraphQLInputObjectType:
    """Predicates for array columns (reference ArrayFilter, inputs.py:125-129)."""
    name = f"{scalar.name}ArrayFilter"
    if name not in _filter_inputs:
        _filter_inputs[name] = GraphQLInputObjectType(
            name, {"contains": GraphQLInputField(scalar, description="array contains element")}
        )
    return _filter_inputs[name]


def _to_col_filter(spec: Mapping[str, Any]) -> ColFilter:
    spec = _given(spec)
    if "eq" in spec and spec["eq"] is not None:
        spec["eq"] = list(spec["eq"])
    if "ne" in spec and spec["ne"] is not None:
        spec["ne"] = list(spec["ne"])
    return ColFilter(**spec)


# ---------------------------------------------------------------------------
# aggregate inputs (reference Aggregates, inputs.py:206-231)

AGG_FIELD = GraphQLInputObjectType(
    "AggField",
    {
        "name": GraphQLInputField(GraphQLString),
        "alias": GraphQLInputField(GraphQLString),
        "where": GraphQLInputField(EXPRESSION),
        "distinct": GraphQLInputField(GraphQLBoolean),
        "orderBy": GraphQLInputField(StringList),
        "includeNull": GraphQLInputField(GraphQLBoolean),
        "sep": GraphQLInputField(GraphQLString),
        "q": GraphQLInputField(GraphQLList(GraphQLNonNull(GraphQLFloat))),
        "approx": GraphQLInputField(GraphQLBoolean),
        "how": GraphQLInputField(GraphQLString),
        "key": GraphQLInputField(GraphQLString),
    },
)

AGG_KINDS = (
    "all any argmax argmin collect concat count first last kurtosis "
    "max mean min mode nunique quantile std sum var"
).split()

AGGREGATES = GraphQLInputObjectType(
    "Aggregates",
    {kind: GraphQLInputField(GraphQLList(GraphQLNonNull(AGG_FIELD))) for kind in AGG_KINDS},
)


def _to_aggs(spec: Mapping[str, Any]) -> list[Agg]:
    aggs = []
    for kind, fields in _given(spec).items():
        for raw in fields or ():
            kw = _given(raw)
            if "orderBy" in kw:
                kw["order_by"] = list(kw.pop("orderBy"))
            if "includeNull" in kw:
                kw["include_null"] = kw.pop("includeNull")
            if "where" in kw:
                kw["where"] = compile_expression(kw["where"])
            if "q" in kw:
                qs = list(kw["q"])
                kw["q"] = qs[0] if len(qs) == 1 else qs
            aggs.append(Agg(kind=kind, **kw))
    return aggs


PROJECTION = GraphQLInputObjectType(
    "Projection",
    {
        "alias": GraphQLInputField(GraphQLNonNull(GraphQLString)),
        "expr": GraphQLInputField(GraphQLNonNull(EXPRESSION)),
    },
)

CAST_FIELD = GraphQLInputObjectType(
    "CastField",
    {
        "name": GraphQLInputField(GraphQLNonNull(GraphQLString)),
        "type": GraphQLInputField(GraphQLNonNull(GraphQLString)),
    },
)


# ---------------------------------------------------------------------------
# Column object types (reference models.py:47-255) — shared across tables

_column_types: dict[str, GraphQLObjectType] = {}


def _col_df(source):
    ds, name = source
    return ds.df.select(name)


def _col_agg(fn):
    def resolver(source, info, **args):
        # batched fast path: the `columns` resolver may have computed every
        # scalar-aggregate leaf of the selection in ONE Spark job (see
        # _batch_column_aggs); the cache is keyed by the alias-aware
        # response path (column key, leaf key)
        cache = getattr(source, "_agg_cache", None)
        if cache is not None and info.path.prev is not None:
            key = (info.path.prev.key, info.path.key)
            if key in cache:
                return cache[key]
        ds, name = source
        df = ds.df.select(fn(F.col(name), **_given(args)))
        [[value]] = ds._leaf(df, "rows", df.collect)
        return value

    return resolver


#: leaf field name -> aggregate-expression factory, mirroring the per-leaf
#: resolvers in ``column_type`` exactly (same functions, same arguments) so
#: a batched value is bit-identical to the per-leaf job's value.
_BATCHABLE_AGGS: dict[str, Any] = {
    "count": lambda c: F.count(c),
    "nunique": lambda c, approx=False: (
        F.approx_count_distinct if approx else F.count_distinct
    )(c),
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "min": F.min,
    "max": F.max,
    "mode": F.mode,
    "sum": F.sum,
    "mean": F.avg,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "quantile": lambda c, q: F.percentile(c, F.array(*map(F.lit, q))),
    "any": F.bool_or,
    "all": F.bool_and,
}


class _ColSource(tuple):
    """(ds, name) leaf source that can carry the batched-aggregate cache."""

    _agg_cache = None


class _ColumnsBatch:
    """Source emitted by the ``columns`` resolver: the Dataset plus the
    pre-computed scalar-aggregate leaves of the whole selection."""

    __slots__ = ("ds", "cache")

    def __init__(self, ds, cache):
        self.ds = ds
        self.cache = cache


def _batch_column_aggs(ds, info) -> dict:
    """One Spark job for every scalar-aggregate leaf under ``columns``.

    Each ``_col_agg`` leaf is otherwise its own ``select(...).collect()``
    — a full pass over the table per leaf (11 passes for the typical
    stats selection; at scale, 11 scans where one suffices). Collect the
    plain FieldNode leaves whose name has a factory above into a single
    ``select`` and hand the row to the leaf resolvers via the cache.
    Anything unusual — fragments, directives, argument errors, or a
    failing batch job — falls back to the per-leaf path, preserving
    GraphQL partial-result semantics."""
    from graphql.execution.values import get_argument_values
    from graphql.language import FieldNode

    parent_type = info.return_type
    while hasattr(parent_type, "of_type"):
        parent_type = parent_type.of_type
    if not isinstance(parent_type, GraphQLObjectType):
        return {}
    exprs: list[Column] = []
    keys: list[tuple[str, str]] = []
    for node in info.field_nodes:
        if node.selection_set is None:
            continue
        for col_node in node.selection_set.selections:
            if not isinstance(col_node, FieldNode) or col_node.directives:
                continue
            if col_node.selection_set is None:
                continue
            col_field = parent_type.fields.get(col_node.name.value)
            if col_field is None:
                continue
            col_type = col_field.type
            while hasattr(col_type, "of_type"):
                col_type = col_type.of_type
            if not isinstance(col_type, GraphQLObjectType):
                continue
            col_key = col_node.alias.value if col_node.alias else col_node.name.value
            colname = col_node.name.value
            for leaf in col_node.selection_set.selections:
                if not isinstance(leaf, FieldNode) or leaf.directives:
                    continue
                factory = _BATCHABLE_AGGS.get(leaf.name.value)
                leaf_field = col_type.fields.get(leaf.name.value)
                if factory is None or leaf_field is None:
                    continue
                try:
                    args = get_argument_values(leaf_field, leaf, info.variable_values)
                    expr = factory(F.col(colname), **_given(args))
                except Exception:  # noqa: BLE001  (leaf falls back)
                    continue
                leaf_key = leaf.alias.value if leaf.alias else leaf.name.value
                keys.append((col_key, leaf_key))
                exprs.append(expr.alias(f"__agg{len(exprs)}"))
    if len(exprs) < 2:
        return {}  # a single leaf gains nothing from batching
    df = ds.df.select(*exprs)
    try:
        [row] = ds._leaf(df, "rows", df.collect)
    except Exception:  # noqa: BLE001  (per-leaf jobs preserve partial results)
        return {}
    return {key: row[i] for i, key in enumerate(keys)}


def _resolve_columns(ds, info):
    return _ColumnsBatch(ds, _batch_column_aggs(ds, info))


def _column_source(src, name):
    """Per-column source: thread the batch cache through when the parent
    was the batching ``columns`` resolver; plain (ds, name) otherwise."""
    if isinstance(src, _ColumnsBatch):
        out = _ColSource((src.ds, name))
        out._agg_cache = src.cache
        return out
    return (src, name)


#: conf key capping driver-side column materialization (values/distinct/
#: lengths without an explicit ``limit:``). The reference serializes whole
#: columns through GraphQL; at 100 TB an accidental `values` on a fact
#: table would OOM the driver, so the cap fails fast with a clear remedy.
MAX_VALUES_CONF = "spark.graphique.maxValues"
MAX_VALUES_DEFAULT = 100_000


def _capped_rows(ds, df, limit):
    if limit not in (Undefined, None):
        df = df.limit(limit)
        return ds._leaf(df, "rows", df.collect)
    cap = int(ds.df.sparkSession.conf.get(MAX_VALUES_CONF, str(MAX_VALUES_DEFAULT)))
    df = df.limit(cap + 1)

    def capped():
        rows = df.collect()
        if len(rows) > cap:
            raise ValueError(
                f"column materialization exceeds {cap} rows; pass `limit:` or "
                f"raise the {MAX_VALUES_CONF} conf"
            )
        return rows

    # its own kind: a `limit: cap + 1` leaf of the same plan must not
    # answer a capped one without the check
    return ds._leaf(df, "capped", capped)


def _resolve_values(source, info, limit=Undefined):
    ds, _ = source
    return [r[0] for r in _capped_rows(ds, _col_df(source), limit)]


def _resolve_distinct(source, info, limit=Undefined):
    ds, name = source
    counted = ds.df.groupBy(F.col(name).alias("v")).count()
    rows = _capped_rows(ds, counted, limit)
    # positional: canonical plans drop output names, so a stored row may
    # carry another document's names
    return {"values": [r[0] for r in rows], "counts": [r[1] for r in rows]}


def set_type(scalar: GraphQLScalarType) -> GraphQLObjectType:
    name = f"{scalar.name}Set"
    if name not in _column_types:
        _column_types[name] = GraphQLObjectType(
            name,
            {
                "values": GraphQLField(GraphQLList(scalar), resolve=lambda s, i: s["values"]),
                "counts": GraphQLField(
                    GraphQLList(BigInt), resolve=lambda s, i: s["counts"]
                ),
                "length": GraphQLField(BigInt, resolve=lambda s, i: len(s["values"])),
            },
        )
    return _column_types[name]


def column_type(scalar: GraphQLScalarType, numeric: bool, boolean: bool = False) -> GraphQLObjectType:
    """Typed Column object (reference models.py registry, models.py:49-68)."""
    name = f"{scalar.name}Column"
    if name in _column_types:
        return _column_types[name]
    fields: dict[str, GraphQLField] = {
        "values": GraphQLField(
            GraphQLList(scalar),
            args={"limit": GraphQLArgument(GraphQLInt)},
            resolve=_resolve_values,
        ),
        "count": GraphQLField(BigInt, resolve=_col_agg(F.count)),
        "nunique": GraphQLField(
            BigInt,
            args={"approx": GraphQLArgument(GraphQLBoolean, default_value=False)},
            resolve=lambda s, i, approx=False: _col_agg(
                F.approx_count_distinct if approx else F.count_distinct
            )(s, i),
        ),
        "distinct": GraphQLField(
            set_type(scalar),
            args={"limit": GraphQLArgument(GraphQLInt)},
            resolve=_resolve_distinct,
        ),
        "first": GraphQLField(scalar, resolve=_col_agg(lambda c: F.first(c, ignorenulls=True))),
        "last": GraphQLField(scalar, resolve=_col_agg(lambda c: F.last(c, ignorenulls=True))),
        "min": GraphQLField(scalar, resolve=_col_agg(F.min)),
        "max": GraphQLField(scalar, resolve=_col_agg(F.max)),
        "mode": GraphQLField(scalar, resolve=_col_agg(F.mode)),
    }
    if numeric:
        fields.update(
            sum=GraphQLField(scalar, resolve=_col_agg(F.sum)),
            mean=GraphQLField(GraphQLFloat, resolve=_col_agg(F.avg)),
            std=GraphQLField(GraphQLFloat, resolve=_col_agg(F.stddev_samp)),
            var=GraphQLField(GraphQLFloat, resolve=_col_agg(F.var_samp)),
            quantile=GraphQLField(
                GraphQLList(GraphQLFloat),
                args={"q": GraphQLArgument(GraphQLNonNull(GraphQLList(GraphQLNonNull(GraphQLFloat))))},
                resolve=lambda s, i, q: _col_agg(lambda c: F.percentile(c, F.array(*map(F.lit, q))))(s, i),
            ),
        )
    if boolean:
        fields.update(
            any=GraphQLField(GraphQLBoolean, resolve=_col_agg(F.bool_or)),
            all=GraphQLField(GraphQLBoolean, resolve=_col_agg(F.bool_and)),
        )
    _column_types[name] = GraphQLObjectType(name, fields)
    return _column_types[name]


def generic_column_type() -> GraphQLObjectType:
    """Untyped Column for query-created names (reference docs/api.md:3-22)."""
    if "AnyColumn" not in _column_types:
        base = column_type(JSON, numeric=True)
        _column_types["AnyColumn"] = GraphQLObjectType("AnyColumn", dict(base.fields))
    return _column_types["AnyColumn"]


def _jsonable(value):
    from pyspark.sql import Row

    if isinstance(value, Row):
        return {k: _jsonable(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    return value


def _resolve_json_values(source, info, limit=Undefined):
    ds, name = source
    return [_jsonable(r[0]) for r in _capped_rows(ds, ds.df.select(name), limit)]


def _resolve_unnest(source, info):
    ds, name = source
    return (ds._wrap(ds.df.select(F.explode_outer(F.col(name)).alias(name))), name)


def _resolve_lengths(source, info):
    ds, name = source
    df = ds.df.select(F.array_size(F.col(name)))
    return [r[0] for r in _capped_rows(ds, df, Undefined)]


def array_column_type(dtype: T.ArrayType) -> GraphQLObjectType:
    """Typed array column (reference ArrayColumn, models.py:224-238):
    ``unnest`` yields the element-typed Column, ``length`` the per-row
    sizes — together they support efficient regrouping."""
    inner = spark_column_type(dtype.elementType)
    name = f"{inner.name}Array"
    if name not in _column_types:
        _column_types[name] = GraphQLObjectType(
            name,
            lambda: {
                "values": GraphQLField(
                    GraphQLList(JSON),
                    args={"limit": GraphQLArgument(GraphQLInt)},
                    resolve=_resolve_json_values,
                ),
                "count": GraphQLField(BigInt, resolve=_col_agg(F.count)),
                "length": GraphQLField(GraphQLList(BigInt), resolve=_resolve_lengths),
                "unnest": GraphQLField(inner, resolve=_resolve_unnest),
            },
        )
    return _column_types[name]


def struct_column_type() -> GraphQLObjectType:
    """Struct column (reference StructColumn, models.py:241-255): ``names``
    / ``types`` reflect the struct schema; values serialize as JSON."""
    if "StructColumn" not in _column_types:

        def _dtype(source) -> T.StructType:
            ds, name = source
            return ds.schema[name].dataType

        _column_types["StructColumn"] = GraphQLObjectType(
            "StructColumn",
            {
                "values": GraphQLField(
                    GraphQLList(JSON),
                    args={"limit": GraphQLArgument(GraphQLInt)},
                    resolve=_resolve_json_values,
                ),
                "count": GraphQLField(BigInt, resolve=_col_agg(F.count)),
                "names": GraphQLField(
                    StringList, resolve=lambda s, i: list(_dtype(s).names)
                ),
                "types": GraphQLField(
                    StringList,
                    resolve=lambda s, i: [
                        f.dataType.simpleString() for f in _dtype(s).fields
                    ],
                ),
            },
        )
    return _column_types["StructColumn"]


def map_column_type() -> GraphQLObjectType:
    """Map column (beyond the reference, which skips maps — scalars.py:
    100-102): entries serialize as JSON objects; ``keys`` unnests the
    distinct key space, ``length`` the per-row entry counts."""
    if "MapColumn" not in _column_types:

        def _keys(source, info, limit=Undefined):
            # Distinct-key collect is driver-side: cap like values/distinct.
            ds, name = source
            df = (
                ds.df.select(F.explode_outer(F.map_keys(F.col(name))).alias("k"))
                .select(F.col("k").cast("string").alias("k"))
                .distinct()
            )
            rows = _capped_rows(ds, df, limit)
            return sorted((r[0] for r in rows), key=lambda k: (k is None, k))

        def _lengths(source, info):
            ds, name = source
            df = ds.df.select(F.size(F.col(name)))
            return [r[0] for r in _capped_rows(ds, df, Undefined)]

        _column_types["MapColumn"] = GraphQLObjectType(
            "MapColumn",
            {
                "values": GraphQLField(
                    GraphQLList(JSON),
                    args={"limit": GraphQLArgument(GraphQLInt)},
                    resolve=_resolve_json_values,
                ),
                "count": GraphQLField(BigInt, resolve=_col_agg(F.count)),
                "keys": GraphQLField(
                    StringList,
                    args={"limit": GraphQLArgument(GraphQLInt)},
                    resolve=_keys,
                ),
                "length": GraphQLField(GraphQLList(BigInt), resolve=_lengths),
            },
        )
    return _column_types["MapColumn"]


def spark_column_type(dtype: T.DataType) -> GraphQLObjectType:
    scalar = graphql_type(dtype)
    if scalar is None:
        if isinstance(dtype, T.ArrayType):
            return array_column_type(dtype)
        if isinstance(dtype, T.StructType):
            return struct_column_type()
        if isinstance(dtype, T.MapType):
            return map_column_type()
        return generic_column_type()
    numeric = isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType),
    )
    return column_type(scalar, numeric, boolean=isinstance(dtype, T.BooleanType))


# ---------------------------------------------------------------------------
# Table type per root schema (reference middleware.py:104-141)


def _valid_fields(schema: T.StructType) -> list[T.StructField]:
    out = []
    for field in schema.fields:
        if _NAME.match(field.name):
            out.append(field)
        else:
            warnings.warn(f"invalid GraphQL field name, skipping column: {field.name!r}")
    return out


class SchemaBuilder:
    def __init__(self, roots: Mapping[str, Dataset], keys: Mapping[str, list[str]] | None = None):
        self.roots = dict(roots)
        self.tables: dict[str, GraphQLObjectType] = {}
        #: federation entity keys per root (reference interface.py:93-98)
        self.keys = dict(keys or {})
        self._typename_roots: dict[str, str] = {}

    def build(self) -> GraphQLSchema:
        for name, ds in self.roots.items():
            self.tables[name] = self.table_type(name, ds.schema)
            self._typename_roots[self.tables[name].name] = name
        if len(self.roots) == 1:
            [(name, _)] = self.roots.items()
            fields = dict(self.tables[name].fields)
        else:
            fields = {
                name: GraphQLField(table, resolve=(lambda n: lambda s, i: i.context["roots"][n])(name))
                for name, table in self.tables.items()
            }
        fields.update(self.federation_fields())
        query = GraphQLObjectType("Query", fields)
        return GraphQLSchema(query=query, types=list(_column_types.values()))

    # -- federation (reference interface.py:93-98, middleware.py:56-61) ----

    def federation_fields(self) -> dict[str, GraphQLField]:
        """Apollo-federation subgraph surface on graphql-core: ``_entities``
        resolves representations to key-filtered tables; ``_service { sdl }``
        exposes the schema document."""
        if not self.keys:
            return {}
        from graphql import GraphQLUnionType, print_schema

        unknown = set(self.keys) - set(self.roots)
        if unknown:
            raise ValueError(f"federation keys for unknown roots: {sorted(unknown)}")
        any_scalar = GraphQLScalarType(
            "_Any", serialize=lambda v: v, parse_value=lambda v: v
        )
        entity = GraphQLUnionType(
            "_Entity",
            [self.tables[name] for name in self.keys],
            resolve_type=lambda value, info, _type: getattr(value, "_gql_typename", None),
        )
        service = GraphQLObjectType(
            "_Service",
            {"sdl": GraphQLField(GraphQLString, resolve=lambda s, i: s["sdl"])},
        )
        return {
            "_entities": GraphQLField(
                GraphQLList(entity),
                args={
                    "representations": GraphQLArgument(
                        GraphQLNonNull(GraphQLList(GraphQLNonNull(any_scalar)))
                    )
                },
                resolve=self._resolve_entities,
            ),
            "_service": GraphQLField(
                service, resolve=lambda s, i: {"sdl": print_schema(i.schema)}
            ),
        }

    def _resolve_entities(self, source, info, representations):
        out = []
        for rep in representations:
            typename = rep["__typename"]
            root_name = self._typename_roots[typename]
            if root_name not in self.keys:
                raise ValueError(f"not a federation entity: {typename}")
            ds = info.context["roots"][root_name]
            filters = {
                k: ColFilter(eq=[v]) for k, v in rep.items() if k != "__typename"
            }
            resolved = ds.filter(**filters)
            resolved._gql_typename = typename
            out.append(resolved)
        return out

    # -- sub-types ---------------------------------------------------------

    def columns_type(self, name: str, schema: T.StructType) -> GraphQLObjectType:
        fields = {}
        for field in _valid_fields(schema):
            fields[field.name] = GraphQLField(
                spark_column_type(field.dataType),
                resolve=(lambda n: lambda src, info: _column_source(src, n))(field.name),
            )
        return GraphQLObjectType(f"{name.capitalize()}Columns", fields)

    def row_type(self, name: str, schema: T.StructType) -> GraphQLObjectType:
        fields = {}
        for field in _valid_fields(schema):
            scalar = graphql_type(field.dataType) or JSON
            fields[field.name] = GraphQLField(
                scalar, resolve=(lambda n: lambda row, info: row.get(n))(field.name)
            )
        return GraphQLObjectType(f"{name.capitalize()}Row", fields)

    def filter_args(self, schema: T.StructType) -> dict[str, GraphQLArgument]:
        args: dict[str, GraphQLArgument] = {}
        for field in _valid_fields(schema):
            scalar = graphql_type(field.dataType)
            if scalar is not None:
                args[field.name] = GraphQLArgument(filter_input(scalar))
            elif isinstance(field.dataType, T.ArrayType):
                element = graphql_type(field.dataType.elementType)
                if element is not None:
                    args[field.name] = GraphQLArgument(array_filter_input(element))
        if "where" in args:
            # a column literally named 'where' would be silently shadowed
            # by the expression argument — filters would coerce wrongly
            raise ValueError(
                "column name 'where' is reserved for the expression filter "
                "argument; rename it via the startup projection "
                "(columns={'where_': 'where'})"
            )
        args["where"] = GraphQLArgument(EXPRESSION)
        return args

    # -- the Table type ----------------------------------------------------

    def table_type(self, name: str, schema: T.StructType) -> GraphQLObjectType:
        tname = f"{name.capitalize()}Table"

        def fields():
            table = self.tables[name]
            out: dict[str, GraphQLField] = {
                "count": GraphQLField(BigInt, resolve=lambda ds, i: ds.count()),
                "any": GraphQLField(
                    GraphQLBoolean,
                    args={"limit": GraphQLArgument(GraphQLInt, default_value=1)},
                    resolve=lambda ds, i, limit=1: ds.any(limit),
                ),
                "schema": GraphQLField(
                    GraphQLObjectType(
                        f"{name.capitalize()}Schema",
                        {
                            "names": GraphQLField(StringList, resolve=lambda s, i: s["names"]),
                            "types": GraphQLField(StringList, resolve=lambda s, i: s["types"]),
                            "partitioning": GraphQLField(
                                StringList, resolve=lambda s, i: s["partitioning"]
                            ),
                        },
                    ),
                    resolve=lambda ds, i: {
                        "names": ds.column_names(),
                        "types": [f.dataType.simpleString() for f in ds.schema.fields],
                        "partitioning": [
                            c for c in ds.partitioning if c in ds.df.columns
                        ],
                    },
                ),
                # root source class (reference ``type``, interface.py:117-121)
                "type": GraphQLField(GraphQLString, resolve=lambda ds, i: ds.source_type),
                # nullable boundary that stops error propagation, enabling
                # partial results (reference ``optional``, interface.py:138-141)
                "optional": GraphQLField(table, resolve=lambda ds, i: ds),
                "toSql": GraphQLField(GraphQLString, resolve=lambda ds, i: ds.to_sql()),
                "columns": GraphQLField(
                    self.columns_type(name, schema), resolve=_resolve_columns
                ),
                "column": GraphQLField(
                    generic_column_type(),
                    args={
                        "name": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "cast": GraphQLArgument(GraphQLString),
                        "try": GraphQLArgument(GraphQLBoolean, default_value=False),
                        "index": GraphQLArgument(
                            GraphQLList(GraphQLNonNull(GraphQLInt)),
                            description="array offsets applied after name lookup",
                        ),
                    },
                    resolve=self._resolve_column,
                ),
                "row": GraphQLField(
                    self.row_type(name, schema),
                    args={"index": GraphQLArgument(GraphQLInt, default_value=0)},
                    resolve=lambda ds, i, index=0: ds.row(index),
                ),
                "filter": GraphQLField(
                    table, args=self.filter_args(schema), resolve=self._resolve_filter
                ),
                "group": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(StringList, default_value=[]),
                        "counts": GraphQLArgument(GraphQLString),
                        "aggregate": GraphQLArgument(AGGREGATES),
                        "order": GraphQLArgument(
                            GraphQLString,
                            description="column name for first-seen row number; groups sort by it",
                        ),
                    },
                    resolve=self._resolve_group,
                ),
                "rollup": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(GraphQLNonNull(StringList)),
                        "counts": GraphQLArgument(GraphQLString),
                        "aggregate": GraphQLArgument(AGGREGATES),
                    },
                    resolve=lambda ds, i, by, counts=Undefined, aggregate=Undefined: ds.rollup(
                        by,
                        aggregate=_to_aggs(aggregate) if aggregate is not Undefined else (),
                        counts=None if counts is Undefined else counts,
                    ),
                ),
                "cube": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(GraphQLNonNull(StringList)),
                        "counts": GraphQLArgument(GraphQLString),
                        "aggregate": GraphQLArgument(AGGREGATES),
                    },
                    resolve=lambda ds, i, by, counts=Undefined, aggregate=Undefined: ds.cube(
                        by,
                        aggregate=_to_aggs(aggregate) if aggregate is not Undefined else (),
                        counts=None if counts is Undefined else counts,
                    ),
                ),
                "order": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(GraphQLNonNull(StringList)),
                        "limit": GraphQLArgument(GraphQLInt),
                        "over": GraphQLArgument(StringList, default_value=[]),
                    },
                    resolve=lambda ds, i, by, limit=Undefined, over=(): ds.order(
                        by, None if limit is Undefined else limit, over
                    ),
                ),
                "first": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(GraphQLNonNull(StringList)),
                        "rank": GraphQLArgument(GraphQLInt, default_value=1),
                        "dense": GraphQLArgument(GraphQLBoolean, default_value=False),
                        "over": GraphQLArgument(StringList, default_value=[]),
                    },
                    resolve=lambda ds, i, by, rank=1, dense=False, over=(): ds.first(
                        by, rank, dense, over
                    ),
                ),
                "slice": GraphQLField(
                    table,
                    args={
                        "offset": GraphQLArgument(GraphQLInt, default_value=0),
                        "limit": GraphQLArgument(GraphQLInt),
                    },
                    resolve=lambda ds, i, offset=0, limit=Undefined: ds.slice(
                        offset, None if limit is Undefined else limit
                    ),
                ),
                "take": GraphQLField(
                    table,
                    args={"indices": GraphQLArgument(GraphQLNonNull(GraphQLList(GraphQLNonNull(GraphQLInt))))},
                    resolve=lambda ds, i, indices: ds.take(indices),
                ),
                "distinct": GraphQLField(
                    table,
                    args={
                        "on": GraphQLArgument(StringList, default_value=[]),
                        "keep": GraphQLArgument(GraphQLString, default_value="first"),
                        "counts": GraphQLArgument(GraphQLString),
                        "orderBy": GraphQLArgument(StringList, default_value=[]),
                    },
                    resolve=lambda ds, i, on=(), keep="first", counts=Undefined, orderBy=(): ds.distinct(
                        on,
                        None if keep in (None, "null") else keep,
                        None if counts is Undefined else counts,
                        orderBy,
                    ),
                ),
                "runs": GraphQLField(
                    table,
                    args={
                        "by": GraphQLArgument(GraphQLNonNull(StringList)),
                        "orderBy": GraphQLArgument(GraphQLNonNull(StringList)),
                        "counts": GraphQLArgument(GraphQLString),
                        "aggregate": GraphQLArgument(AGGREGATES),
                    },
                    resolve=lambda ds, i, by, orderBy, counts=Undefined, aggregate=Undefined: ds.runs(
                        by,
                        orderBy,
                        aggregate=_to_aggs(aggregate) if aggregate is not Undefined else (),
                        counts=None if counts is Undefined else counts,
                    ),
                ),
                "project": GraphQLField(
                    table,
                    args={"columns": GraphQLArgument(GraphQLNonNull(GraphQLList(GraphQLNonNull(PROJECTION))))},
                    resolve=lambda ds, i, columns: ds.project(
                        {p["alias"]: compile_expression(p["expr"]) for p in columns}
                    ),
                ),
                "cast": GraphQLField(
                    table,
                    args={
                        "schema": GraphQLArgument(GraphQLNonNull(GraphQLList(GraphQLNonNull(CAST_FIELD)))),
                        "try": GraphQLArgument(GraphQLBoolean, default_value=False),
                    },
                    resolve=lambda ds, i, schema, **kw: ds.cast(
                        {c["name"]: c["type"] for c in schema}, try_=kw.get("try", False)
                    ),
                ),
                "fillNull": GraphQLField(
                    table,
                    args={
                        "value": GraphQLArgument(GraphQLNonNull(JSON)),
                        "subset": GraphQLArgument(StringList),
                    },
                    resolve=lambda ds, i, value, subset=Undefined: ds.fill_null(
                        value, None if subset is Undefined else subset
                    ),
                ),
                "dropNull": GraphQLField(
                    table,
                    args={
                        "subset": GraphQLArgument(StringList),
                        "how": GraphQLArgument(GraphQLString, default_value="any"),
                    },
                    resolve=lambda ds, i, subset=Undefined, how="any": ds.drop_null(
                        None if subset is Undefined else subset, how
                    ),
                ),
                "unnest": GraphQLField(
                    table,
                    args={
                        "name": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "offset": GraphQLArgument(GraphQLString),
                        "keepEmpty": GraphQLArgument(GraphQLBoolean, default_value=False),
                    },
                    resolve=lambda ds, i, name, offset=Undefined, keepEmpty=False: ds.unnest(
                        name, None if offset is Undefined else offset, keepEmpty
                    ),
                ),
                "unpack": GraphQLField(
                    table,
                    args={"names": GraphQLArgument(GraphQLNonNull(StringList))},
                    resolve=lambda ds, i, names: ds.unpack(*names),
                ),
                "join": GraphQLField(
                    table,
                    args={
                        "right": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "keys": GraphQLArgument(GraphQLNonNull(StringList)),
                        "rkeys": GraphQLArgument(StringList),
                        "how": GraphQLArgument(GraphQLString, default_value="inner"),
                        "broadcast": GraphQLArgument(GraphQLBoolean, default_value=False),
                    },
                    resolve=lambda ds, i, right, keys, rkeys=Undefined, how="inner", broadcast=False: ds.join(
                        right,
                        keys,
                        None if rkeys is Undefined else rkeys,
                        how=how,
                        broadcast=broadcast,
                    ),
                ),
                "crossJoin": GraphQLField(
                    table,
                    args={"right": GraphQLArgument(GraphQLNonNull(StringList))},
                    resolve=lambda ds, i, right: ds.cross_join(*right),
                ),
                "asofJoin": GraphQLField(
                    table,
                    args={
                        "right": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "on": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "keys": GraphQLArgument(StringList, default_value=[]),
                        "rkeys": GraphQLArgument(
                            StringList, description="right-side key names; defaults to keys"
                        ),
                        "tolerance": GraphQLArgument(GraphQLFloat),
                        "toleranceIso": GraphQLArgument(
                            Duration, description="ISO-8601 duration tolerance for timestamps"
                        ),
                        "direction": GraphQLArgument(GraphQLString, default_value="backward"),
                    },
                    resolve=self._resolve_asof,
                ),
                "takeFrom": GraphQLField(
                    table,
                    args={
                        "field": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "source": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                    },
                    resolve=lambda ds, i, field, source: ds.take_from(field, source),
                ),
                "union": GraphQLField(
                    table,
                    args={
                        "tables": GraphQLArgument(GraphQLNonNull(StringList)),
                        "distinct": GraphQLArgument(GraphQLBoolean, default_value=False),
                    },
                    resolve=lambda ds, i, tables, distinct=False: ds.union(*tables, distinct=distinct),
                ),
                "intersect": GraphQLField(
                    table,
                    args={
                        "table": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "distinct": GraphQLArgument(GraphQLBoolean, default_value=True),
                    },
                    resolve=lambda ds, i, table, distinct=True: ds.intersect(table, distinct),
                ),
                "difference": GraphQLField(
                    table,
                    args={
                        "table": GraphQLArgument(GraphQLNonNull(GraphQLString)),
                        "distinct": GraphQLArgument(GraphQLBoolean, default_value=True),
                    },
                    resolve=lambda ds, i, table, distinct=True: ds.difference(table, distinct),
                ),
                "sql": GraphQLField(
                    table,
                    args={"query": GraphQLArgument(GraphQLNonNull(GraphQLString))},
                    resolve=self._resolve_sql,
                ),
            }
            for fld in out.values():
                if fld.type is table:
                    fld.resolve = _with_cache(fld.resolve)
            return out

        table = GraphQLObjectType(tname, fields)
        return table

    # -- resolvers needing context ----------------------------------------

    @staticmethod
    def _resolve_filter(ds: Dataset, info, where=Undefined, **columns):
        filters = {
            name: _to_col_filter(spec) for name, spec in columns.items() if spec is not Undefined
        }
        cond = compile_expression(where) if where is not Undefined else None
        return ds.filter(where=cond, **filters)

    @staticmethod
    def _resolve_group(ds: Dataset, info, by=(), counts=Undefined, aggregate=Undefined, order=Undefined):
        return ds.group(
            by,
            aggregate=_to_aggs(aggregate) if aggregate is not Undefined else (),
            counts=None if counts is Undefined else counts,
            order=None if order is Undefined else order,
        )

    @staticmethod
    def _resolve_column(ds: Dataset, info, name: str, cast=Undefined, index=Undefined, **kw):
        col = ds.column(name, None if index in (Undefined, None) else list(index))
        out = "_col"
        if cast is not Undefined and cast is not None:
            col = col.try_cast(cast) if kw.get("try") else col.cast(cast)
        return (ds.select(col.alias(out)), out)

    @staticmethod
    def _resolve_asof(
        ds: Dataset,
        info,
        right,
        on,
        keys=(),
        rkeys=Undefined,
        tolerance=Undefined,
        toleranceIso=Undefined,
        direction="backward",
    ):
        from graphique_spark.service.expressions import scalar_literal

        tol = None
        if toleranceIso not in (Undefined, None):
            # timedelta -> day-time interval literal; month-bearing
            # durations (P1M...) arrive as MonthDayDuration, which F.lit
            # rejects — scalar_literal builds make_interval for them
            tol = scalar_literal(toleranceIso)
        elif tolerance not in (Undefined, None):
            tol = F.lit(tolerance)
        return ds.asof_join(
            right,
            on,
            by=list(keys),
            right_by=None if rkeys in (Undefined, None) else list(rkeys),
            tolerance=tol,
            direction=direction,
        )

    @staticmethod
    def _resolve_sql(ds: Dataset, info, query: str):
        context = info.context or {}
        if not context.get("allow_sql"):  # denied by default, reference interface.py:56-60
            raise PermissionError("raw SQL is not allowed (pass allow_sql=True)")
        return ds.sql(query)
