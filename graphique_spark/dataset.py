"""``Dataset``: the engine's table abstraction — a thin, lazy wrapper over
``pyspark.sql.DataFrame`` exposing the reference's full operator surface
(reference interface.py; SURVEY §2). Every method returns a new ``Dataset``
holding an *unexecuted* DataFrame (a Catalyst logical plan); nothing runs
until a scalar accessor (``count``, ``values``, ``row``...) materializes.

Catalyst supplies predicate pushdown, column pruning, partition pruning,
join planning and codegen for free; the methods here only need to express
the *semantics* declaratively.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphique_spark import plancache
from graphique_spark.inputs import Agg, Filter, combine_filters
from graphique_spark.operators.asof import asof_join
from graphique_spark.operators.sequence import with_row_index, with_run_ids
from graphique_spark.operators.topk import rank_filter, sort_keys, top_k


class Dataset:
    """Lazy table; mirror of the reference's ``Dataset`` GraphQL interface
    (reference interface.py:74-81) over a Spark DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        roots: Mapping[str, "Dataset"] | None = None,
        partitioning: Sequence[str] = (),
        source_type: str = "DataFrame",
    ):
        self.df = df
        #: named root tables, the join/union targets (reference middleware.py:68-90)
        self.roots = dict(roots or {})
        #: hive partition keys of the root source (reference interface.py:123-127)
        self.partitioning = tuple(partitioning)
        #: root source class name (reference ``type``, interface.py:117-121)
        self.source_type = source_type
        #: SQL rendering state (sqlrender.py): the FROM-clause identifier of
        #: the root plus the lazy operator log. ``None`` = not renderable;
        #: sources and the service set ``_source`` on roots.
        self._source: str | None = None
        self._ops: tuple[tuple, ...] | None = None
        #: a parquet root's file snapshot, read by ``_root_files``
        self._files: frozenset[str] | None = None
        #: run before the first Spark job of a leaf over this Dataset: the
        #: GraphQL service persists a frame shared by sibling fields here
        self._before_job: Callable[[], None] | None = None

    def _wrap(self, df: DataFrame, op: tuple | None = None) -> "Dataset":
        """New Dataset over ``df``. ``op`` is this step's SQL-render log
        entry ``(name, input_df, kwargs)`` — omitted for operators with no
        SQL-text equivalent, which invalidates the chain so ``to_sql``
        falls back to the plan dump."""
        out = Dataset(df, self.roots, self.partitioning, self.source_type)
        out._before_job = self._before_job
        if op is not None and self._ops is not None and self._source is not None:
            out._source = self._source
            out._ops = self._ops + (op,) if op[0] != "noop" else self._ops
        return out

    def _resolve(self, other: "Dataset | DataFrame | str") -> DataFrame:
        if isinstance(other, str):
            return self.roots[other].df
        if isinstance(other, Dataset):
            return other.df
        return other

    def _resolve_ds(self, other: "Dataset | DataFrame | str") -> "Dataset | None":
        """The Dataset behind ``other`` for SQL-render logging, or None for
        a bare DataFrame (whose chain isn't renderable)."""
        if isinstance(other, str):
            return self.roots.get(other)
        return other if isinstance(other, Dataset) else None

    # -- reflection ---------------------------------------------------------

    @property
    def schema(self):
        return self.df.schema

    def column_names(self) -> list[str]:
        return list(self.df.columns)

    def to_sql(self) -> str:
        """Executable Spark SQL for the recorded operator chain (reference
        ``toSql``, interface.py:109-115, which compiles to dialect SQL via
        ibis/SQLGlot): ``spark.sql(ds.to_sql())`` reproduces ``ds.df``.
        Parquet roots render standalone (``parquet.`/path```); named roots
        render as table identifiers the session must resolve (catalog
        tables or registered temp views). Chains containing an operator
        with no SQL-text equivalent (synthesized-index take, first-seen
        group order, arbitrary-tiebreak distinct) fall back to the
        optimized logical plan dump."""
        from graphique_spark import sqlrender

        if self._source is not None and self._ops is not None:
            try:
                return sqlrender.render(self)
            except Exception:
                # Unrenderable is the designed signal, but a renderer bug on
                # an exotic Catalyst rendering must degrade to the plan dump,
                # not surface as a GraphQL field error
                pass
        return self.df._jdf.queryExecution().optimizedPlan().toString()

    def explain(self, mode: str = "formatted") -> str:
        """The physical plan as a string — look for pruned ``ReadSchema``,
        ``PushedFilters``, broadcast joins, and wide WholeStageCodegen
        spans before calling an operator done."""
        return self.df._sc._jvm.PythonSQLUtils.explainString(
            self.df._jdf.queryExecution(), mode
        )

    # -- materializing leaves ------------------------------------------------

    def _leaf(self, df: DataFrame, kind, run: Callable):
        """Materialize a scalar leaf over this Dataset: ``run()`` computes
        ``kind`` of ``df`` (a count, the collected rows...), so different
        leaves of one plan never share a result. Every leaf goes through
        here. Inside a GraphQL service request the service's result cache
        answers repeated leaves; a leaf that does run a job runs
        ``_before_job`` first."""
        hook = self._before_job
        if hook is not None:
            leaf = run

            def run():
                hook()
                return leaf()

        cache = plancache.ACTIVE.get()
        return run() if cache is None else cache.get(df, kind, run)

    def _root_files(self) -> frozenset[str]:
        """Local paths of the files Spark listed when this parquet root was
        read. The metadata fast paths read only these, so they answer from
        the same snapshot as a scan of ``df``, even after files are added
        under ``path``."""
        if self._files is None:
            import os
            from urllib.parse import urlsplit
            from urllib.request import url2pathname

            self._files = frozenset(
                os.path.abspath(url2pathname(urlsplit(uri).path))
                for uri in self.df.inputFiles()
            )
        return self._files

    def count(self) -> int:
        """Row count; on an untransformed parquet root this reads parquet
        footers only — zero data pages — matching the reference's
        ``count_rows()`` metadata path (interface.py:143-149)."""
        path = getattr(self, "path", None)
        if path:
            from graphique_spark import sources

            def footers() -> int:
                groups = sources.partition_group_counts(path, (), self._root_files())
                return sum(n for _, n in groups)

            return self._leaf(self.df, "count", footers)
        return self._leaf(self.df, "count", self.df.count)

    def any(self, limit: int = 1) -> bool:
        """Existence early-exit: LIMIT n before counting (reference
        interface.py:151-157) — never scans past ``limit`` rows."""
        df = self.df.limit(limit)
        return self._leaf(df, "count", df.count) >= limit

    def row(self, index: int = 0) -> dict[str, Any]:
        df = self.df.offset(index).limit(1) if index else self.df.limit(1)
        # canonical plans drop output names: the kind carries them
        rows = self._leaf(df, ("row", tuple(self.df.columns)), df.collect)
        if not rows:
            raise IndexError(index)
        return rows[0].asDict(recursive=True)

    def values(self, name: str, limit: int | None = None) -> list:
        df = self.df.select(name)
        if limit is not None:
            df = df.limit(limit)
        return [row[0] for row in self._leaf(df, "rows", df.collect)]

    # -- projection / filtering ---------------------------------------------

    def select(self, *columns: str | Column) -> "Dataset":
        out = self.df.select(*columns)
        # out_df, not out.columns: reading .columns here would force plan
        # analysis on every select; the renderer reads it lazily
        op = ("select", self.df, {"cols": list(columns), "out_df": out})
        return self._wrap(out, op)

    def project(self, columns: Mapping[str, Column]) -> "Dataset":
        """Add/replace columns by expression (reference ``project``,
        interface.py:455-462)."""
        cols = dict(columns)
        return self._wrap(self.df.withColumns(cols), ("project", self.df, {"cols": cols}))

    def filter(self, where: Column | None = None, **filters: Filter | dict) -> "Dataset":
        """Typed per-column predicates AND-ed with an expression filter
        (reference interface.py:510-519)."""
        typed = {
            name: flt if isinstance(flt, Filter) else Filter(**flt)
            for name, flt in filters.items()
        }
        pred = combine_filters(typed, where)
        return self._wrap(self.df.filter(pred), ("filter", self.df, {"pred": pred}))

    def cast(self, schema: Mapping[str, str], try_: bool = False) -> "Dataset":
        """Cast columns; ``try_`` yields null on failure (reference
        interface.py:129-136)."""
        cols = {
            name: (F.col(name).try_cast(typ) if try_ else F.col(name).cast(typ))
            for name, typ in schema.items()
        }
        return self._wrap(self.df.withColumns(cols), ("project", self.df, {"cols": cols}))

    def column(self, name: str, index: int | Sequence[int] | None = None) -> Column:
        """Column of any type by (nested, dotted) name; optional index(es)
        into arrays (reference interface.py:159-175)."""
        col = F.col(name)
        if index is None:
            return col
        for i in [index] if isinstance(index, int) else index:
            col = F.get(col, i)
        return col

    def fill_null(self, value: Any, subset: Sequence[str] | None = None) -> "Dataset":
        out = self.df.na.fill(value, subset=list(subset) if subset else None)
        return self._wrap(out, ("fill", self.df, {"out_df": out}))

    def drop_null(self, subset: Sequence[str] | None = None, how: str = "any") -> "Dataset":
        out = self.df.na.drop(how=how, subset=list(subset) if subset else None)
        op = ("dropnull", self.df, {"subset": list(subset) if subset else None, "how": how})
        return self._wrap(out, op)

    # -- aggregation ----------------------------------------------------------

    @staticmethod
    def _merge_quantile_aggs(aggregate, aggs, counts, order):
        """Collapse multiple exact-quantile aggregates over the same column
        into ONE ``percentile(col, array(p1, p2, ...))`` evaluation.

        Spark's exact Percentile builds a value->count OpenHashMap per
        aggregate expression, so N quantiles of the same column pay the
        buffer build, serialization and merge N times; the array form
        evaluates every percentage on one shared buffer — identical
        arithmetic, identical results (same sorted counts, same
        interpolation). Only plain quantiles merge (no where/distinct/
        approx, scalar q); anything else keeps its own expression.

        Returns (exec_aggs, post_projection); post is None when nothing
        merges. The recorded to_sql op keeps the ORIGINAL per-alias
        expressions, so rendered SQL is unchanged (and equivalent)."""
        def mergeable(a):
            return (
                a.kind == "quantile"
                and not a.approx
                and a.where is None
                and not a.distinct
                and isinstance(a.q, (int, float))
                and bool(a.name)
            )

        # slots are keyed by POSITION, not id(): the same Agg instance
        # passed twice would collapse to one id() slot, skip the j==0
        # branch and KeyError on hidden_of (ADVICE r12)
        groups: dict[str, list] = {}
        for i, a in enumerate(aggregate):
            if mergeable(a):
                groups.setdefault(a.name, []).append((i, a))
        groups = {n: l for n, l in groups.items() if len(l) > 1}
        if not groups:
            return aggs, None
        slot = {
            pos: (name, j)
            for name, lst in groups.items()
            for j, (pos, _) in enumerate(lst)
        }
        hidden_of: dict[str, str] = {}
        exec_aggs, post = [], []
        for i, a in enumerate(aggregate):
            if i in slot:
                name, j = slot[i]
                if j == 0:
                    hidden = f"__qmerge_{len(hidden_of)}"
                    hidden_of[name] = hidden
                    exec_aggs.append(
                        F.percentile(
                            F.col(name),
                            F.array(*[F.lit(float(x.q)) for _, x in groups[name]]),
                        ).alias(hidden)
                    )
                post.append(
                    F.element_at(F.col(hidden_of[name]), j + 1).alias(a.out_name)
                )
            else:
                exec_aggs.append(aggs[i])
                post.append(F.col(a.out_name))
        n = len(aggregate)
        if counts:
            exec_aggs.append(aggs[n])
            post.append(F.col(counts))
        if order:
            exec_aggs.append(aggs[-1])
            post.append(F.col(order))
        return exec_aggs, post

    def group(
        self,
        by: Sequence[str] = (),
        aggregate: Sequence[Agg] = (),
        counts: str | None = None,
        order: str | None = None,
    ) -> "Dataset":
        """Hash group-by; ``by=()`` aggregates to one row; ``counts`` adds a
        group-size column (reference interface.py:217-243). Partial
        (map-side) aggregation and AQE skew handling come from Catalyst.

        ``order`` names an output column holding each group's first row
        number; groups come back sorted by it — first-seen ordering
        (reference interface.py:239-243). The row index is the two-phase
        zipWithIndex (no global sort).

        Partition fast path (reference interface.py:233-234, core.py:55-63):
        grouping an untransformed parquet root by partition keys only, with
        no aggregates, answers from directory names + parquet footers —
        zero data pages read."""
        aggs = [agg.to_column() for agg in aggregate]
        if counts:
            aggs.append(F.count(F.lit(1)).alias(counts))
        # SQL-render log: `order` (first-seen row numbers) depends on scan
        # row order, which SQL text can't express — it breaks the chain
        op = (
            ("group", self.df, {"by": list(by), "aggcols": list(aggs), "kind": "group"})
            if order is None
            else None
        )
        path = getattr(self, "path", None)
        if (
            path
            and by
            and not aggregate
            and order is None
            and set(by) <= set(self.partitioning)
        ):
            out = self._metadata_groups(list(by), counts)
            # the metadata fast path answers the same logical GROUP BY
            out._source, out._ops = self._source, (
                self._ops + (op,) if self._ops is not None and self._source else None
            )
            return out
        df = self.df
        if order:
            df = with_row_index(df, order)
            aggs.append(F.min(order).alias(order))
        if not aggs:  # distinct key combinations
            return self._wrap(df.select(*by).distinct(), op)
        exec_aggs, post = self._merge_quantile_aggs(aggregate, aggs, counts, order)
        grouped = df.groupBy(*by) if by else df.groupBy()
        out = grouped.agg(*exec_aggs)
        if post is not None:
            out = out.select(*by, *post)
        return self._wrap(out.orderBy(order) if order else out, op)

    def _metadata_groups(self, by: list[str], counts: str | None) -> "Dataset":
        """Distinct partition-key groups (and sizes) from hive directory
        names + parquet footers; a LocalRelation, no file scan. Partition
        values arrive as directory strings and are cast to the types Spark
        inferred for the scanned frame, so both paths agree on schema."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from graphique_spark import sources

        groups = sources.partition_group_counts(self.path, by, self._root_files())
        schema = StructType(
            [StructField(c, StringType()) for c in by]
            + ([StructField(counts, LongType())] if counts else [])
        )
        data = [
            tuple(values[c] for c in by) + ((n,) if counts else ())
            for values, n in groups
        ]
        out = self.df.sparkSession.createDataFrame(data, schema)
        types = dict(self.df.dtypes)
        out = out.select(
            *[F.col(c).cast(types[c]).alias(c) for c in by],
            *([counts] if counts else []),
        )
        return self._wrap(out)

    def rollup(self, by: Sequence[str], aggregate: Sequence[Agg] = (), counts: str | None = None) -> "Dataset":
        """Hierarchical subtotals (beyond the reference — SURVEY §2.5 notes
        grouping sets as a free Spark win). Same agg surface as ``group``."""
        aggs = [agg.to_column() for agg in aggregate]
        if counts:
            aggs.append(F.count(F.lit(1)).alias(counts))
        op = ("group", self.df, {"by": list(by), "aggcols": list(aggs), "kind": "rollup"})
        return self._wrap(self.df.rollup(*by).agg(*aggs), op)

    def cube(self, by: Sequence[str], aggregate: Sequence[Agg] = (), counts: str | None = None) -> "Dataset":
        """All grouping-set combinations of ``by`` (beyond the reference)."""
        aggs = [agg.to_column() for agg in aggregate]
        if counts:
            aggs.append(F.count(F.lit(1)).alias(counts))
        op = ("group", self.df, {"by": list(by), "aggcols": list(aggs), "kind": "cube"})
        return self._wrap(self.df.cube(*by).agg(*aggs), op)

    def distinct(
        self,
        on: Sequence[str] = (),
        keep: str | None = "first",
        counts: str | None = None,
        order_by: Sequence[str] = (),
    ) -> "Dataset":
        """De-duplicate on a key subset, keeping all columns (reference
        interface.py:185-215). ``keep``: 'first'/'last' (by ``order_by``, or
        arbitrary-but-deterministic via a stable tiebreak), None = drop *all*
        duplicated rows."""
        on = list(on) or self.column_names()
        op = (
            "distinct",
            self.df,
            {"on": on, "keep": keep, "counts": counts, "order_by": list(order_by)},
        )
        if keep is None:
            # window count, not groupBy+semi-join: a plain equi semi join
            # never matches NULL key values, silently dropping null-keyed
            # singleton groups (NULL is a group, like Arrow/DuckDB), and
            # the window is one shuffle where the join shape costs two
            w_n = Window.partitionBy(*on)
            out = self.df.withColumn("__n", F.count(F.lit(1)).over(w_n))
            return self._wrap(out.filter(F.col("__n") == 1).drop("__n"), op)
        keys = sort_keys(order_by) if order_by else [F.monotonically_increasing_id()]
        if keep == "last":
            # reverse each key's direction by flipping its '-' prefix --
            # .desc() on a SortOrder produced by sort_keys would crash
            flipped = [k[1:] if k.startswith("-") else "-" + k for k in order_by]
            keys = sort_keys(flipped) if order_by else [
                F.monotonically_increasing_id().desc()
            ]
        w = Window.partitionBy(*on).orderBy(*keys)
        out = self.df.withColumn("__rn", F.row_number().over(w))
        if counts:
            out = out.withColumn(counts, F.count(F.lit(1)).over(Window.partitionBy(*on)))
        return self._wrap(out.filter(F.col("__rn") == 1).drop("__rn"), op)

    def runs(
        self,
        by: Sequence[str],
        order_by: Sequence[str],
        aggregate: Sequence[Agg] = (),
        counts: str | None = None,
        split: Column | None = None,
    ) -> "Dataset":
        """Group by *adjacency*: consecutive equal values (in ``order_by``
        order) form one group (reference ``runs``, interface.py:464-489)."""
        flagged = with_run_ids(self.df, list(by), list(order_by), split=split)
        aggs = [agg.to_column() for agg in aggregate]
        if counts:
            aggs.append(F.count(F.lit(1)).alias(counts))
        keep = [F.first(c).alias(c) for c in by]
        op = (
            "runs",
            self.df,
            {
                "by": list(by),
                "order_by": list(order_by),
                "aggcols": list(aggs),
                "split": split,
            },
        )
        # run ids increase in order_by order: sort on _run so the groups
        # come back in adjacency order (the semantics runs is defined by),
        # then project it away. #runs-bounded, so the sort is cheap.
        return self._wrap(
            flagged.groupBy("_run").agg(*keep, *aggs).orderBy("_run").drop("_run"), op
        )

    # -- ordering / limiting ---------------------------------------------------

    def _fragment_prune(
        self, by: Sequence[str], limit: int | None = None,
        rank: int | None = None, dense: bool = False,
    ):
        """File-level prune for ``order(limit)``/``first`` on an
        untransformed partitioned root (reference core.py:81-99): sort the
        fragment inventory (directory values + footer row counts, zero data
        pages) by the leading partition-key block of the sort spec, keep
        only the files that can contain qualifying rows, and return a scan
        of just those files. The generic operator then computes the exact
        result over the pruned scan. Returns None when inapplicable.

        Correctness: sort keys must start with >=1 partition keys and the
        remaining keys must be non-partition columns — then row order
        refines fragment-key order, and closing over the boundary key value
        keeps every file that could hold a qualifying row."""
        path = getattr(self, "path", None)
        if not (path and self.partitioning and by):
            return None
        names = [k.lstrip("-") for k in by]
        parts = set(self.partitioning)
        j = 0
        while j < len(names) and names[j] in parts:
            j += 1
        if j == 0 or any(n in parts for n in names[j:]):
            return None
        from graphique_spark import sources

        files = sources.partition_file_counts(path, names[:j], self._root_files())
        if not files:
            return None
        types = dict(self.df.dtypes)

        def typed(raw, dtype):
            if raw is None:
                return None
            if dtype in ("tinyint", "smallint", "int", "bigint"):
                return int(raw)
            if dtype in ("float", "double") or dtype.startswith("decimal"):
                return float(raw)
            return raw  # strings; ISO dates/timestamps sort lexicographically

        decorated = [
            (tuple(typed(vals[n], types.get(n, "")) for n in names[:j]), f, n)
            for vals, f, n in files
        ]
        # stable multi-level sort, last key first; asc = nulls first,
        # desc = nulls last (Spark's defaults), via the (is_null, value)
        # tuple trick reversed wholesale for descending keys
        for i in range(j - 1, -1, -1):
            desc = by[i].startswith("-")
            decorated.sort(
                key=lambda t: (t[0][i] is not None, t[0][i]) if t[0][i] is not None
                else (False, 0),
                reverse=desc,
            )
        chosen: list[str] = []
        if limit is not None:  # order(limit): files covering `limit` rows
            cum, boundary = 0, None
            for vals, f, n in decorated:
                if cum >= limit and vals != boundary:
                    break
                chosen.append(f)
                cum += n
                boundary = vals
        else:  # first(rank): files of qualifying distinct key values
            groups: list[tuple[tuple, int]] = []
            for vals, f, n in decorated:
                if groups and groups[-1][0] == vals:
                    groups[-1] = (vals, groups[-1][1] + n)
                else:
                    groups.append((vals, n))
            keep: set[tuple] = set()
            rows_before = 0
            for idx, (vals, n) in enumerate(groups):
                if dense:
                    if idx < rank:
                        keep.add(vals)
                elif rows_before < rank:
                    keep.add(vals)
                rows_before += n
            chosen = [f for vals, f, n in decorated if vals in keep]
        if len(chosen) == len(decorated):
            return None  # nothing pruned; use the original scan
        reader = self.df.sparkSession.read.option("basePath", path)
        return reader.parquet(*chosen).select(*self.df.columns)

    def order(self, by: Sequence[str], limit: int | None = None, over: Sequence[str] = ()) -> "Dataset":
        op = ("order", self.df, {"by": list(by), "limit": limit, "over": list(over)})
        if limit is not None and not over:
            pruned = self._fragment_prune(by, limit=limit)
            if pruned is not None:
                return self._wrap(top_k(pruned, by, limit, over), op)
        return self._wrap(top_k(self.df, by, limit, over), op)

    def first(self, by: Sequence[str], rank: int = 1, dense: bool = False, over: Sequence[str] = ()) -> "Dataset":
        op = ("first", self.df, {"by": list(by), "rank": rank, "dense": dense, "over": list(over)})
        if not over:
            pruned = self._fragment_prune(by, rank=rank, dense=dense)
            if pruned is not None:
                return self._wrap(rank_filter(pruned, by, rank, dense, over), op)
        return self._wrap(rank_filter(self.df, by, rank, dense, over), op)

    def slice(self, offset: int = 0, limit: int | None = None) -> "Dataset":
        """Contiguous rows in current order; negative offset = from the end
        (reference interface.py:177-183)."""
        if offset < 0:
            total = self._leaf(self.df, "count", self.df.count)
            offset = max(total + offset, 0)
        op = ("slice", self.df, {"offset": offset, "limit": limit})
        df = self.df.offset(offset) if offset else self.df
        return self._wrap(df.limit(limit) if limit is not None else df, op)

    def take(self, indices: Sequence[int], rowid: str = "_rowid") -> "Dataset":
        """Rows by position with pyarrow ``take`` semantics (reference
        ``take``, interface.py:424-435): duplicate indices repeat rows and
        the requested order is preserved — a broadcast inner join against a
        literal (position, index) table over a dense row index, distributed
        rather than a driver-side collect."""
        synthesized = rowid not in self.df.columns
        # SQL-renderable only with an explicit rowid column: a synthesized
        # index depends on scan row order, which SQL text can't pin
        op = (
            ("take", self.df, {"indices": [int(i) for i in indices], "rowid": rowid})
            if not synthesized
            else None
        )
        if not len(indices):
            # pyarrow take([]) = empty table; createDataFrame cannot infer
            # a schema from zero rows
            return self._wrap(self.df.limit(0), op)
        df = with_row_index(self.df, rowid) if synthesized else self.df
        spark = df.sparkSession
        wanted = spark.createDataFrame(
            [(pos, int(i)) for pos, i in enumerate(indices)], schema=["__pos", rowid]
        )
        out = df.join(F.broadcast(wanted), on=rowid, how="inner").orderBy("__pos").drop("__pos")
        return self._wrap(out.drop(rowid) if synthesized else out, op)

    def with_row_index(self, name: str = "_rowid") -> "Dataset":
        return self._wrap(with_row_index(self.df, name))

    # -- multi-table ------------------------------------------------------------

    def join(
        self,
        right: "Dataset | DataFrame | str",
        keys: Sequence[str],
        rkeys: Sequence[str] | None = None,
        how: str = "inner",
        lname: str = "{name}",
        rname: str = "{name}_r",
        broadcast: bool = False,
    ) -> "Dataset":
        """Equi-join (reference interface.py:329-352). Overlapping column
        names are renamed via the ``lname``/``rname`` format strings. Pass
        ``broadcast=True`` to force a broadcast of the right side."""
        rdf = self._resolve(right)
        rkeys = list(rkeys or keys)
        overlap = (set(self.df.columns) & set(rdf.columns)) - (
            set(keys) if list(keys) == rkeys else set()
        )
        ldf = self.df
        lmap: dict[str, str] = {}
        rmap: dict[str, str] = {}
        for name in overlap:
            if lname != "{name}":
                lmap[name] = lname.format(name=name)
                ldf = ldf.withColumnRenamed(name, lmap[name])
            rmap[name] = rname.format(name=name)
            rdf = rdf.withColumnRenamed(name, rmap[name])
        if list(keys) == rkeys:
            cond: Any = list(keys)
        else:
            # key columns may themselves have been renamed above (e.g. a
            # self-join where a right key also exists on the left) —
            # reference them by their post-rename names
            cond = None
            for lk, rk in zip(keys, rkeys):
                piece = ldf[lmap.get(lk, lk)] == rdf[rmap.get(rk, rk)]
                cond = piece if cond is None else cond & piece
        if broadcast:
            rdf = F.broadcast(rdf)
        robj = self._resolve_ds(right)
        op = (
            (
                "join",
                self.df,
                {
                    "right": robj,
                    "keys": list(keys),
                    "rkeys": rkeys,
                    "how": how,
                    "lmap": lmap,
                    "rmap": rmap,
                    "broadcast": broadcast,
                },
            )
            if robj is not None
            else None
        )
        return self._wrap(ldf.join(rdf, on=cond, how=how), op)

    def asof_join(self, right: "Dataset | DataFrame | str", on: str, **kwargs) -> "Dataset":
        robj = self._resolve_ds(right)
        # renderable when the right side has a recorded chain: SQL text
        # re-expresses the union+last-window composition (sqlrender.op_asof)
        op = (
            ("asof", self.df, {"right": robj, "on": on, "kwargs": dict(kwargs)})
            if robj is not None
            else None
        )
        return self._wrap(asof_join(self.df, self._resolve(right), on, **kwargs), op)

    def cross_join(self, *rights: "Dataset | DataFrame | str") -> "Dataset":
        df = self.df
        for right in rights:
            df = df.crossJoin(self._resolve(right))
        rlist = [self._resolve_ds(r) for r in rights]
        op = (
            ("cross", self.df, {"rights": rlist}) if all(r is not None for r in rlist) else None
        )
        return self._wrap(df, op)

    def take_from(self, indices_col: str, source: "Dataset | DataFrame | str", rowid: str = "_rowid") -> "Dataset":
        """Use an integer column as row indices into another root (reference
        ``takeFrom``, models.py:215-221): an equi-join against the source's
        dense row index."""
        src = self._resolve(source)
        if rowid not in src.columns:
            src = with_row_index(src, rowid)
        idx = self.df.select(F.col(indices_col).alias(rowid))
        return self._wrap(idx.join(src, on=rowid, how="inner").drop(rowid))

    # -- set operations -----------------------------------------------------------

    def union(self, *others: "Dataset | DataFrame | str", distinct: bool = False) -> "Dataset":
        df = self.df
        for other in others:
            df = df.unionByName(self._resolve(other))
        rlist = [self._resolve_ds(o) for o in others]
        op = (
            ("union", self.df, {"rights": rlist, "distinct": distinct})
            if all(r is not None for r in rlist)
            else None
        )
        return self._wrap(df.distinct() if distinct else df, op)

    def intersect(self, other: "Dataset | DataFrame | str", distinct: bool = True) -> "Dataset":
        rdf = self._resolve(other)
        robj = self._resolve_ds(other)
        op = (
            ("setop", self.df, {"right": robj, "op": "intersect", "distinct": distinct})
            if robj is not None
            else None
        )
        return self._wrap(self.df.intersect(rdf) if distinct else self.df.intersectAll(rdf), op)

    def difference(self, other: "Dataset | DataFrame | str", distinct: bool = True) -> "Dataset":
        rdf = self._resolve(other)
        robj = self._resolve_ds(other)
        op = (
            ("setop", self.df, {"right": robj, "op": "difference", "distinct": distinct})
            if robj is not None
            else None
        )
        return self._wrap(self.df.subtract(rdf) if distinct else self.df.exceptAll(rdf), op)

    # -- reshaping -------------------------------------------------------------------

    def unnest(self, name: str, offset: str | None = None, keep_empty: bool = False) -> "Dataset":
        """Explode an array column (reference ``unnest``, interface.py:301-322);
        ``offset`` adds the element index; ``keep_empty`` keeps null/empty
        arrays as null rows."""
        others = [c for c in self.df.columns if c != name]
        if offset:
            fn = F.posexplode_outer if keep_empty else F.posexplode
            out = self.df.select(*others, fn(name).alias(offset, name))
        else:
            fn = F.explode_outer if keep_empty else F.explode
            out = self.df.select(*others, fn(name).alias(name))
        op = ("unnest", self.df, {"name": name, "offset": offset, "keep_empty": keep_empty})
        return self._wrap(out, op)

    def unpack(self, *names: str) -> "Dataset":
        """Flatten struct columns to top level (reference interface.py:324-327)."""
        cols: list[Column | str] = []
        for c in self.df.columns:
            if c in names:
                cols.append(F.col(c + ".*"))
            else:
                cols.append(c)
        return self._wrap(
            self.df.select(*cols), ("unpack", self.df, {"names": list(names)})
        )

    # -- caching (reference resolve()/.cache(), interface.py:83-91) -------------------

    def persist(self, columns: Sequence[str] | None = None) -> "Dataset":
        """Minimal-select then persist, the reference's sibling-field reuse
        trick: prune to the referenced columns *before* materializing so the
        cache holds only what downstream fields read."""
        base = self.select(*columns) if columns else self
        return base._wrap(
            base.df.persist(StorageLevel.MEMORY_AND_DISK), ("noop", base.df, {})
        )

    def unpersist(self) -> "Dataset":
        self.df.unpersist()
        return self

    # -- SQL escape hatch (reference interface.py:523-535; gated by caller) -----------

    def sql(self, query: str, alias: str = "self") -> "Dataset":
        self.df.createOrReplaceTempView(alias)
        op = ("sql", self.df, {"query": query, "alias": alias})
        return self._wrap(self.df.sparkSession.sql(query), op)

    # -- data-engineering conveniences (beyond the reference surface) -----------------

    def checksum(self, by: Sequence[str] = ()) -> "Dataset":
        """Order-insensitive content checksum per group — see
        ``sources.table_checksum`` (the manifest/integrity primitive)."""
        from graphique_spark.sources import table_checksum

        return self._wrap(table_checksum(self.df, by))

    def validate(self, rules) -> "Dataset":
        """Evaluate declarative data-quality rules — see
        ``operators.quality.validate`` (one scan for row-local rules)."""
        from graphique_spark.operators.quality import validate

        return self._wrap(validate(self.df, rules))

    def skew_report(self, keys: Sequence[str], top: int = 10) -> "Dataset":
        """Key-distribution diagnostic before a join/agg on ``keys`` — see
        ``operators.skew.skew_report``."""
        from graphique_spark.operators.skew import skew_report

        return self._wrap(skew_report(self.df, keys, top))
