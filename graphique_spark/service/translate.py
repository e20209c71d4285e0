"""GraphQL → DataFrame compilation without execution.

``compile_query`` walks a GraphQL document's table-field chain and applies
each field's resolver to build the lazy DataFrame — the "GraphQL-to-SQL
translation" path: the returned DataFrame's Catalyst plan *is* the
translated query, renderable as SQL via ``Dataset.to_sql`` and runnable
anywhere Spark runs. Scalar leaf fields are ignored; the deepest
table-typed field's frame is returned.
"""

from __future__ import annotations

from graphql import GraphQLObjectType, parse
from graphql.execution.values import get_argument_values
from pyspark.sql import DataFrame

from graphique_spark.dataset import Dataset


class _Info:
    """Minimal resolver info: enough for the schema's table resolvers
    (field_nodes for the cache heuristic, context for permissions)."""

    def __init__(self, node, context):
        self.field_nodes = [node]
        self.context = context


def compile_query(service, query: str, allow_sql: bool | None = None) -> DataFrame:
    """Compile the first linear table-field chain of ``query`` to a lazy
    DataFrame (no jobs run, nothing is persisted)."""
    return compile_dataset(service, query, allow_sql).df


def compile_dataset(service, query: str, allow_sql: bool | None = None) -> Dataset:
    """Like :func:`compile_query` but returns the ``Dataset``, whose
    ``to_sql()`` renders the chain as executable Spark SQL (the reference's
    ``toSql``, interface.py:109-115)."""
    doc = parse(query)
    operation = doc.definitions[0]
    selections = operation.selection_set.selections
    query_type = service.schema.query_type
    context = {
        "roots": service.roots,
        "allow_sql": service.allow_sql if allow_sql is None else allow_sql,
    }

    if len(service.roots) == 1:
        ds: Dataset = next(iter(service.roots.values()))
        parent: GraphQLObjectType = query_type
        node = None
    else:
        node = selections[0]
        root_field = query_type.fields[node.name.value]
        ds = service.roots[node.name.value]
        parent = root_field.type
        selections = node.selection_set.selections if node.selection_set else []

    while True:
        nxt = None
        for child in selections:
            field = parent.fields.get(child.name.value)
            # a table-typed field: an object type exposing the operator surface
            if (
                field is not None
                and isinstance(field.type, GraphQLObjectType)
                and "toSql" in field.type.fields
            ):
                nxt = (child, field)
                break
        if nxt is None:
            return ds
        node, field = nxt
        args = get_argument_values(field, node, {})
        out = field.resolve(ds, _Info(node, context), **args)
        ds = out if isinstance(out, Dataset) else Dataset(out)
        parent = field.type
        selections = node.selection_set.selections if node.selection_set else []
