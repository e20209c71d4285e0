"""Sources and sinks.

The reference roots a service at a parquet file/dir (hive-partitioned) or
any ibis backend table (reference service.py:24-31); multiple named roots
become join/federation targets (middleware.py:68-90). Spark equivalents:
``spark.read`` (hive partition discovery and pruning are built in), catalog
tables, and JDBC. The out-of-core partition CLI (reference partition.py)
collapses to a single ``write.partitionBy`` — Spark's shuffle service
replaces the reference's two-pass fragment consolidation.
"""

from __future__ import annotations

from typing import Collection, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from graphique_spark.dataset import Dataset


def hive_partition_keys(path: str) -> tuple[str, ...]:
    """Discover hive-style ``key=value`` partition directory levels under
    ``path`` (reference ``Parquet.schema(...).names``, interface.py:123-127).
    Walks one representative branch — every level of a hive layout uses the
    same key, so one path suffices and the scan is O(depth)."""
    import os

    keys: list[str] = []
    current = path
    while os.path.isdir(current):
        subdirs = [d for d in sorted(os.listdir(current)) if "=" in d and
                   os.path.isdir(os.path.join(current, d))]
        if not subdirs:
            break
        keys.append(subdirs[0].split("=", 1)[0])
        current = os.path.join(current, subdirs[0])
    return tuple(keys)


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | Mapping[str, str] | None = None,
) -> Dataset:
    """Root a Dataset at a parquet file/dir. ``columns`` applies the
    reference's startup projection/rename (service.py:22-31): a list selects,
    a mapping selects-and-renames. Hive-style ``key=value`` subdirectories
    are discovered and pruned automatically by Catalyst."""
    import os

    base = spark.read.parquet(path)
    df = base
    # the metadata fast paths walk with os.* — a glob pattern or a path
    # resolved against a non-local default FS is readable by Spark but
    # not walkable, so count()/group() would crash instead of scanning
    local = "://" not in path and os.path.exists(path)
    partitioning = hive_partition_keys(path) if local else ()
    if isinstance(columns, Mapping):
        df = df.select(*[df[orig].alias(new) for new, orig in columns.items()])
    elif columns:
        df = df.select(*columns)
    ds = Dataset(df, partitioning=partitioning, source_type="ParquetDataset")
    # SQL-render root (dataset.to_sql): a path-based parquet scan is
    # standalone-runnable SQL; the startup projection/rename becomes the
    # base SELECT list
    ds._source = "parquet.`" + path.replace("`", "``") + "`"
    if isinstance(columns, Mapping):
        ds._ops = (("select", base, {"cols": list(columns.values()), "out_df": df}),)
    elif columns:
        ds._ops = (("select", base, {"cols": list(columns), "out_df": df}),)
    else:
        ds._ops = ()
    if local and not columns:
        # untransformed local root: remember the path so metadata-only fast
        # paths (count, group-by-partition-keys) can read parquet footers
        # instead of scanning data. Any transformation produces a new
        # Dataset without the path, which disables them automatically.
        ds.path = path
    return ds


def partition_group_counts(
    path: str, keys: Sequence[str], files: Collection[str] | None = None
) -> list[tuple[dict, int]]:
    """Group row-counts by hive partition ``keys`` from metadata alone:
    directory names give the key values, parquet footers give ``num_rows``
    — zero data pages read (the reference's fragment-metadata fast path,
    core.py:55-63 / interface.py:143-149). Returns [(values, rows), ...].

    Driver-side by design: metadata ops touch O(#files) footers, the same
    tradeoff the reference accepts with ``fragments``/``count_rows``."""
    # one walk for both metadata fast paths: sum the per-file inventory
    groups: dict[tuple, int] = {}
    for values, _file, n in partition_file_counts(path, keys, files):
        group = tuple(values.get(k) for k in keys)
        groups[group] = groups.get(group, 0) + n
    ordered = sorted(
        groups.items(), key=lambda kv: tuple((v is None, v) for v in kv[0])
    )
    return [(dict(zip(keys, group)), n) for group, n in ordered]


def partition_file_counts(
    path: str, keys: Sequence[str], files: Collection[str] | None = None
) -> list[tuple[dict, str, int]]:
    """Per-file ``(partition values, file path, num_rows)`` from directory
    names + parquet footers alone — the fragment inventory behind the
    ordered partition-key fast paths (reference core.py:44-63 ``fragments``
    with ``counts``). Values for non-partition ``keys`` come back None.
    ``files`` (absolute paths) restricts the walk to a snapshot, such as
    the listing a DataFrame took when it was read; file paths come back
    absolute."""
    import os
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    out: list[tuple[dict, str, int]] = []
    if os.path.isfile(path):
        n = pq.ParquetFile(path).metadata.num_rows
        return [(dict.fromkeys(keys), path, n)] if n else []

    def walk(current: str, values: dict) -> None:
        entries = list(os.scandir(current))
        subdirs = [e for e in entries if e.is_dir() and "=" in e.name]
        if subdirs:
            for e in subdirs:
                key, _, raw = e.name.partition("=")
                value = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
                walk(e.path, {**values, key: value})
            return
        for e in entries:
            if e.is_file() and e.name.endswith(".parquet"):
                if files is not None and e.path not in files:
                    continue
                n = pq.ParquetFile(e.path).metadata.num_rows
                if n:
                    out.append(({k: values.get(k) for k in keys}, e.path, n))

    walk(os.path.abspath(path), {})
    return out


def read_table(spark: SparkSession, name: str) -> Dataset:
    """Root at a catalog table (the ibis-backend analog)."""
    from graphique_spark import sqlrender

    ds = Dataset(spark.table(name), source_type="Table")
    ds._source = sqlrender.table_ref(name)
    ds._ops = ()
    return ds


def read_source(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    columns: Sequence[str] | Mapping[str, str] | None = None,
    schema: str | None = None,
    **options,
) -> Dataset:
    """Root a Dataset at any Spark DataSource format (csv/json/orc/parquet/
    text/...). The reference reaches non-parquet data through ibis backends
    (README.md:42-56); Spark's reader stack is the direct analog — format
    implementations keep predicate pushdown and column pruning where the
    format supports them (orc/parquet fully; csv/json prune columns).

    ``schema`` (DDL string) skips inference — at 100 TB schema inference is
    a full extra pass for csv/json, so production roots should always pass
    one. ``columns`` applies the startup projection/rename."""
    reader = spark.read.format(format)
    if schema:
        reader = reader.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    df = reader.load(path)
    if isinstance(columns, Mapping):
        df = df.select(*[df[orig].alias(new) for new, orig in columns.items()])
    elif columns:
        df = df.select(*columns)
    partitioning = hive_partition_keys(path) if "://" not in path else ()
    return Dataset(df, partitioning=partitioning, source_type=format.capitalize() + "Source")


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> Dataset:
    """Root at a JDBC table (the reference's SQL-backend roots,
    README.md:42-56). Filters/projections push into the database query
    (``PushedFilters`` in the scan). For scale, pass ``partitionColumn`` +
    ``lowerBound``/``upperBound``/``numPartitions`` so the read issues N
    range-predicated queries in parallel instead of one serial cursor;
    ``driver`` selects an explicit JDBC driver class."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for key, value in options.items():
        reader = reader.option(key, value)
    return Dataset(reader.load(), source_type="JDBCTable")


def roots(tables: Mapping[str, Dataset | DataFrame]) -> dict[str, Dataset]:
    """Bind multiple named roots so each can reference the others as join
    targets (reference ``Query`` class roots, middleware.py:68-90)."""
    from graphique_spark import sqlrender

    out = {
        name: t if isinstance(t, Dataset) else Dataset(t) for name, t in tables.items()
    }
    for name, dataset in out.items():
        dataset.roots = out
        if dataset._source is None:
            # toSql root: render as the root name (the caller registers a
            # matching temp view / catalog table to run the SQL)
            dataset._source = sqlrender.table_ref(name)
            dataset._ops = ()
    return out


def normalize_nanos(df: DataFrame, columns: Sequence[str] = ()) -> DataFrame:
    """Convert nanosecond-timestamp columns (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``) to microsecond timestamps.

    Type-aware, so callers can apply it to any vintage of the dataset:

    * long (nanos-as-long) -> µs TIMESTAMP;
    * TIMESTAMP_NTZ (parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)) ->
      TIMESTAMP — watermarks/windows require the instant type, and with the
      engine's pinned UTC session timezone the wall-clock values are
      identical;
    * TIMESTAMP already: left alone."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    fields = {f.name: f.dataType for f in df.schema.fields}
    for name in columns:
        if isinstance(fields.get(name), LongType):
            # integer `div`, not `/`: ns-since-epoch (~1.8e18) exceeds the
            # double mantissa, so float division would corrupt microseconds
            df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
        elif isinstance(fields.get(name), TimestampNTZType):
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


#: driver testdata columns stored as TIMESTAMP(NANOS) in parquet
NANO_COLUMNS = {"events": ["ts"]}


def load_tables(spark: SparkSession, sf_dir: str, names: Sequence[str]) -> dict[str, Dataset]:
    """Load the driver's benchmark tables as named roots."""
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df = normalize_nanos(df, NANO_COLUMNS.get(name, ()))
        out[name] = df
    return roots(out)


def write_partitioned(
    df: DataFrame,
    dest: str,
    keys: Sequence[str],
    sort_within: Sequence[str] = (),
    with_index: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (reference partition.py:29-77 collapsed
    to one shuffle): optional within-partition sort and original-row-index
    column (``monotonically_increasing_id`` replaces the reference's
    manual index bookkeeping)."""
    from pyspark.sql import functions as F

    if with_index:
        df = df.withColumn(with_index, F.monotonically_increasing_id())
    out = df.repartition(*keys)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.partitionBy(*keys).mode(mode).parquet(dest)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    buckets: int = 32,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table (hash-partitioned files by ``keys``): joins
    and aggregations on the bucket keys between co-bucketed tables skip
    the shuffle entirely — the pre-partitioning IS the exchange, paid once
    at write time. The 100 TB pattern for repeatedly-joined fact tables
    (e.g. lineitem ⋈ orders on orderkey every day).

    ``sort_by`` additionally sorts within buckets, upgrading sort-merge
    joins to skip the sort too."""
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def zorder_value(columns: Sequence, mins: Sequence, maxs: Sequence, bits: int = 12):
    """Z-order (Morton) key: min/max-normalize each column to ``bits`` bits
    and interleave them — pure bitwise expressions, JVM-side."""
    from pyspark.sql import functions as F

    n = len(columns)
    scale = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, col in enumerate(columns):
        lo, hi = float(mins[i]), float(maxs[i])
        span = (hi - lo) or 1.0
        scaled = F.least(
            F.lit(scale),
            ((col.cast("double") - F.lit(lo)) / F.lit(span) * scale).cast("long"),
        )
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    dest: str,
    columns: Sequence[str],
    bits: int = 12,
    partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: rows are range-partitioned and sorted by
    the interleaved Morton key, so every file's min/max footer stats form a
    tight box in ALL ``columns`` — multi-column predicates prune files/row
    groups, where a single-column sort only helps its leading column. The
    table-format-free version of Delta/Iceberg Z-ordering; at 100 TB this
    is the difference between scanning a stripe and scanning everything
    for point-in-box queries.

    Column min/max are collected once (2 scalars per column, metadata-
    cheap for parquet sources) to normalize the key."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def numeric(c):
        # Morton normalization needs a float(min)/float(max) — convert
        # temporal/boolean columns; reject types with no linear order
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            return F.unix_date(F.col(c))
        if isinstance(dt, T.TimestampType | T.TimestampNTZType):
            return F.unix_micros(F.col(c).cast("timestamp"))
        if isinstance(dt, T.BooleanType):
            return F.col(c).cast("int")
        if isinstance(dt, T.NumericType):
            return F.col(c)
        raise ValueError(
            f"z-order column {c!r} has non-linear type {dt.simpleString()}; "
            "cast it to a numeric or temporal type first"
        )

    cols = [numeric(c) for c in columns]
    stats = df.agg(
        *[F.min(c).alias(f"__lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__hi{i}") for i, c in enumerate(cols)],
    ).first()
    mins = [stats[f"__lo{i}"] for i in range(len(cols))]
    maxs = [stats[f"__hi{i}"] for i in range(len(cols))]
    if any(v is None for v in mins + maxs):
        # empty frame or an all-null z-column: no stats to normalize by —
        # write unclustered instead of float(None) crashing
        df.write.mode(mode).parquet(dest)
        return
    z = zorder_value(cols, mins, maxs, bits)
    out = df.repartitionByRange(
        partitions or df.sparkSession.sparkContext.defaultParallelism, z
    ).sortWithinPartitions(z)
    out.write.mode(mode).parquet(dest)


def _list_files(spark: SparkSession, root: str):
    """Driver-side recursive file listing via the Hadoop FS API —
    metadata only (namenode RPCs), no data pages. Returns
    [(path_str, size_bytes)] for data files (skips _SUCCESS etc.)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = fs.makeQualified(jpath).toString().rstrip("/") + "/"
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        status = it.next()
        full = status.getPath().toString()
        rel = full[len(prefix):] if full.startswith(prefix) else full
        # every component checked, not just the basename: files under
        # _manifest/_spark_metadata are hidden from spark.read and must
        # not count as data here either
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append((full, status.getLen()))
    return out


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 128 * 2**20,
    partition_keys: Sequence[str] = (),
    mode: str = "overwrite",
) -> dict:
    """Small-files compaction — the steady-state killer of 100 TB tables:
    streaming sinks and fine-grained upserts leave thousands of KB-sized
    files per partition, and every downstream scan then pays a task (and a
    namenode round trip) per file. Rewrites ``src`` to ``dest`` with file
    counts sized from the actual bytes on disk.

    Plan shape: the sizing pass is driver-side file *metadata* listing
    (no data read); the rewrite is one narrow round-robin repartition per
    partition — no shuffle by value, no sort. Partitioned layouts keep
    their dirs (each sized independently: a 10 GB partition gets
    ceil(10 GB/target) files, a 10 KB one gets 1). Returns
    {files_before, files_after, bytes, rows_written is NOT counted}.
    """
    import math

    from pyspark.sql import functions as F

    files = _list_files(spark, src)
    total = sum(size for _, size in files)
    df = spark.read.parquet(src)
    if not partition_keys:
        n_out = max(1, math.ceil(total / target_file_bytes))
        df.repartition(n_out).write.mode(mode).parquet(dest)
    else:
        # per-partition byte totals from the listing; dir layout is
        # .../key1=v1/key2=v2/file
        import re
        from collections import defaultdict

        # Directory fragments are Hive-ESCAPED (':' -> %3A, null ->
        # __HIVE_DEFAULT_PARTITION__) while the DataFrame carries raw
        # values — matching f"{k}={v}" against the path would silently
        # miss special-character and null partitions, so those would
        # never split. Normalize both sides to an internal
        # unit-separator key over UNescaped values with an explicit
        # null sentinel (the key is map-internal, never a path).
        from urllib.parse import unquote

        NULL_SENTINEL = "\x00null"

        def dir_value(v: str) -> str:
            # the writer sends null AND '' to __HIVE_DEFAULT_PARTITION__
            # (getPartitionPathString), so both map to the sentinel
            return NULL_SENTINEL if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)

        # anchor k=v parsing BELOW src: an ancestor directory named e.g.
        # ds=2024 would otherwise inject a phantom pair into every key,
        # the split_map lookup would never match, and no partition would
        # ever split (silently)
        jroot = spark._jvm.org.apache.hadoop.fs.Path(src)
        jfs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
        root_prefix = jfs.makeQualified(jroot).toString().rstrip("/") + "/"

        per_part: dict[tuple, int] = defaultdict(int)
        for path, size in files:
            rel = path[len(root_prefix):] if path.startswith(root_prefix) else path
            dirs = rel.rpartition("/")[0]  # drop the filename segment
            found = dict(re.findall(r"([^/=]+)=([^/]*)", dirs))
            # key order comes from the CALLER's partition_keys, matching
            # part_str below — directory-nesting order would silently
            # mismatch (no partition would ever split) when the caller
            # lists keys in a different order
            part = tuple(
                (k, dir_value(found[k])) for k in partition_keys if k in found
            )
            per_part[part] += size
        splits = {
            part: max(1, math.ceil(size / target_file_bytes))
            for part, size in per_part.items()
        }
        max_split = max(splits.values())
        if max_split == 1:
            out = df.repartition(*partition_keys)
        else:
            # oversized partitions split round-robin; seed fixed for
            # rerun-stable layout (values, not layout, carry semantics)
            split_map = F.create_map(
                *[
                    x
                    for part, n in splits.items()
                    for x in (
                        F.lit("\x1f".join(f"{k}\x1f{v}" for k, v in part)),
                        F.lit(n),
                    )
                ]
            )
            part_str = F.concat_ws(
                "\x1f",
                *[
                    F.concat_ws(
                        "\x1f",
                        F.lit(k),
                        # nullif folds '' into the null sentinel to mirror
                        # the writer (null and '' share one directory)
                        F.coalesce(
                            F.nullif(F.col(k).cast("string"), F.lit("")),
                            F.lit(NULL_SENTINEL),
                        ),
                    )
                    for k in partition_keys
                ],
            )
            salt = (F.rand(42) * F.coalesce(split_map[part_str], F.lit(1))).cast("int")
            # explicit partition count: without it AQE coalesces the tiny
            # shuffle back to one task per dir and the split is lost
            n_out = sum(splits.values())
            out = df.withColumn("_salt", salt).repartition(
                n_out, *partition_keys, "_salt"
            ).drop("_salt")
        out.write.partitionBy(*partition_keys).mode(mode).parquet(dest)
    after = _list_files(spark, dest)
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
    }


def table_checksum(df: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Order-insensitive content checksum: per group (or globally), the
    row count and the sum of each row's md5-derived 60-bit hash over ALL
    columns. Commutative + associative, so it map-side combines, survives
    any repartitioning, and any engine with md5 reproduces it — the
    integrity primitive behind :func:`write_with_manifest`.

    NULLs and field order are canonicalized (``concat_ws`` with a unit
    separator and explicit casts), so the checksum is a function of the
    DATA, not the physical layout."""
    from pyspark.sql import functions as F

    from graphique_spark.llm.dedup import hash60

    cols = [c for c in df.columns if c not in by]
    # length-prefix every field: plain concat_ws is ambiguous (a value
    # containing the separator shifts field boundaries, and a literal
    # "\x00" string collides with the NULL marker), so distinct tables
    # could share a checksum
    fields = [
        F.coalesce(
            F.concat(
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            ),
            F.lit("\x00"),
        )
        for c in cols
    ]
    row_hash = hash60(F.concat_ws("\x1f", *fields))
    grouped = df.groupBy(*by) if by else df.groupBy()
    # DECIMAL(38) accumulator: 2^60-bounded row hashes summed over any
    # realistic row count stay < 10^38, where an int64 sum overflows (and
    # ANSI mode turns that overflow into a runtime error) beyond ~16k rows.
    # The PUBLISHED checksum is the sum mod 2^61, cast to int64: every
    # consumer (pandas, Arrow, JSON) holds int64 exactly, whereas a
    # DECIMAL(38)/HUGEINT silently lossy-casts to float64 in pandas.
    # mod distributes over +, so commutativity / map-side combine survive.
    total = F.sum(row_hash.cast("decimal(38,0)"))
    return grouped.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.pmod(total, F.lit(1 << 61).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("checksum"),
    )


#: checksum-algorithm version stamped into every ``_manifest`` (see
#: :func:`write_with_manifest`); bump when ``table_checksum``'s published
#: form changes so old manifests fail loud instead of reading as corrupt
MANIFEST_FORMAT_VERSION = 2


def write_with_manifest(
    df: DataFrame, dest: str, partition_by: str | None = None
) -> None:
    """Write parquet plus a ``_manifest`` parquet directory holding the
    per-partition row count + content checksum — the integrity artifact a
    100 TB pipeline checks before trusting an input (partial writes,
    truncated copies, and silent row loss all shift the checksum).
    Verify with :func:`verify_manifest`."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(dest)
    # checksum the BYTES WRITTEN, not the input plan: re-executing df for
    # the manifest would describe a second run of the plan, which diverges
    # from the files on disk if the plan is nondeterministic or a source
    # changed between the two jobs — defeating verify_manifest
    # explicit schema: an empty partitioned write emits only _SUCCESS, and
    # schema inference over zero files raises — the input schema is by
    # definition the schema of the (zero) bytes written
    written = df.sparkSession.read.schema(df.schema).parquet(dest)
    manifest = table_checksum(written, [partition_by] if partition_by else [])
    # format_version stamps the CHECKSUM ALGORITHM (2 = sum of 60-bit row
    # hashes mod 2^61 published as int64; 1 = the unversioned DECIMAL(38)
    # sum written before round 7). verify_manifest refuses to diff across
    # versions: without the stamp, an algorithm change is indistinguishable
    # from corruption — every pre-change manifest would read as "tampered".
    from pyspark.sql import functions as F

    manifest = manifest.withColumn(
        "format_version", F.lit(MANIFEST_FORMAT_VERSION)
    )
    manifest.write.mode("overwrite").parquet(f"{dest}/_manifest")


def rewrite_manifest(
    spark: SparkSession, dest: str, partition_by: str | None = None
) -> None:
    """Migrate a dataset's ``_manifest`` to the current format WITHOUT
    re-writing the data files: recompute counts + checksums from the bytes
    on disk and stamp :data:`MANIFEST_FORMAT_VERSION`. This is the
    operator's path out of :func:`verify_manifest`'s cross-version refusal
    (a pre-versioned or old-algorithm manifest) when the data itself is
    intact — at 100 TB, re-writing data to refresh a metadata artifact is
    not an option (ADVICE r08).

    Note this TRUSTS the current files: any corruption present at rewrite
    time is baked into the new checksums. Run the old-format verifier (or
    an external audit) first if the data's integrity is itself in doubt.
    """
    from pyspark.errors import AnalysisException

    from pyspark.sql import functions as F

    try:
        current = spark.read.parquet(dest)
    except AnalysisException as exc:
        raise ValueError(
            f"{dest} has no readable data files to recompute a manifest "
            "from (empty partitioned writes carry their schema only at "
            "write time). Re-create it with write_with_manifest."
        ) from exc
    manifest = table_checksum(current, [partition_by] if partition_by else [])
    manifest = manifest.withColumn(
        "format_version", F.lit(MANIFEST_FORMAT_VERSION)
    )
    manifest.write.mode("overwrite").parquet(f"{dest}/_manifest")


def verify_manifest(spark: SparkSession, dest: str, partition_by: str | None = None):
    """Recompute counts + checksums of ``dest`` and diff against its
    stored ``_manifest``. Returns a DataFrame of mismatching partitions
    (empty == intact); each row carries both sides' numbers."""
    from pyspark.sql import functions as F

    from pyspark.errors import AnalysisException

    stored = spark.read.parquet(f"{dest}/_manifest")
    # versioned manifests only: an unversioned (pre-round-7 DECIMAL-sum) or
    # future-format manifest must raise a FORMAT error here, not surface as
    # a wall of checksum "mismatches" downstream (ADVICE r07) — the caller
    # can tell "re-write the manifest" apart from "data corrupted"
    if "format_version" not in stored.columns:
        raise ValueError(
            f"{dest}/_manifest has no format_version column: it predates "
            f"manifest format v{MANIFEST_FORMAT_VERSION} (the checksum "
            "algorithm changed from a DECIMAL(38) sum to sum mod 2^61 as "
            "int64). Re-write it with write_with_manifest; diffing across "
            "formats would report intact data as corrupted."
        )
    versions = [r[0] for r in stored.select("format_version").distinct().collect()]
    # zero stored rows (an empty write's manifest) carry no checksums to
    # mis-diff — any version vacuously matches
    if versions and versions != [MANIFEST_FORMAT_VERSION]:
        raise ValueError(
            f"{dest}/_manifest format_version {versions} != supported "
            f"[{MANIFEST_FORMAT_VERSION}]: refusing to diff checksums "
            "computed by a different algorithm. Re-write the manifest."
        )
    stored = stored.drop("format_version")
    try:
        actual = table_checksum(
            spark.read.parquet(dest), [partition_by] if partition_by else []
        )
    except AnalysisException:
        # zero data files (underscore paths are hidden from the read):
        # schema inference raises. The checksum of nothing is the typed
        # empty frame — any stored partition then reports n_actual=null,
        # which is exactly the "files are gone" mismatch. Narrow catch:
        # a corrupt footer / permission error must RAISE, not read as
        # "empty but intact".
        actual = spark.createDataFrame([], stored.schema)
    on = [partition_by] if partition_by else []
    a = actual.select(
        *on, F.col("n_rows").alias("n_actual"), F.col("checksum").alias("sum_actual")
    )
    s = stored.select(
        *[F.col(k).alias(f"__s_{k}") for k in on],
        F.col("n_rows").alias("n_stored"),
        F.col("checksum").alias("sum_stored"),
    )
    if on:
        # null-safe: the __HIVE_DEFAULT_PARTITION__ row has a NULL key on
        # both sides, and a plain on= join would split it into two
        # "mismatching" rows for perfectly intact data
        cond = None
        for k in on:
            c = a[k].eqNullSafe(s[f"__s_{k}"])
            cond = c if cond is None else cond & c
        joined = a.join(s, cond, "full").select(
            *[F.coalesce(a[k], s[f"__s_{k}"]).alias(k) for k in on],
            "n_actual", "sum_actual", "n_stored", "sum_stored",
        )
    else:
        # constant-key FULL join, not a crossJoin: with zero actual rows a
        # crossJoin yields zero rows — "no mismatches" for a dataset whose
        # data is entirely gone
        joined = (
            a.withColumn("__k", F.lit(1))
            .join(s.withColumn("__k", F.lit(1)), "__k", "full")
            .select("n_actual", "sum_actual", "n_stored", "sum_stored")
        )
    return joined.where(
        (F.col("n_actual") != F.col("n_stored"))
        | (F.col("sum_actual") != F.col("sum_stored"))
        | F.col("n_actual").isNull()
        | F.col("n_stored").isNull()
    )
