"""load_file: file(s) → catalog table (or DataFrame).

Reference: ``sql/operators/load_file.py:37-406`` + engine half at
``databases/base.py:474-542``.  Semantics kept:
- ``output_table=None`` → return the DataFrame (reference returns pandas;
  we return a *lazy Spark* DataFrame — the 100 TB-safe analog)
- ``if_exists`` ∈ {replace, append}            (constants.py:86)
- ``columns_names_capitalization`` ∈ {original, lower, upper}
- explicit columns (schema) vs autodetect      (databases/base.py:396-444)
- nested NDJSON flatten via normalize_config   (load_file.py:205-243)

Native path (the reference's COPY branch, ``base.py:523-534,591-637``):
a parquet input that is already what a rewrite would produce becomes
the table's data files by byte copy — no read→``saveAsTable`` job, and
the footer schema (``sources.readers.parquet_footers``) means no
inference job either.  ``_copy_footers`` is the one predicate; every
condition must hold, else the load takes the rewrite path unchanged:

- the input is parquet on the local filesystem (staged downloads
  included) and flat — one file, a glob, or a dir without subdirs, so
  no partition discovery adds columns;
- every data file has the same footer schema, and none lies under the
  target's location (dropping the old table would delete the input);
- the target is a permanent catalog ``Table`` (a temp view is lazy
  anyway; a ``VersionedTable`` commits through its log) that is absent
  or managed, with a local location;
- ``if_exists="replace"`` (append aligns columns by name through a
  write), ``columns_names_capitalization="original"`` (renames live in
  the plan, not the files), and no ``schema``, layout option,
  ``merge_schema`` or ``rescue_malformed`` — each asks for a rewrite;
- no column Spark reads differently under a read-side setting that a
  rewrite would bake in: INT96 (``int96AsTimestamp``, its rebase
  mode), TIMESTAMP(NANOS) (``nanosAsLong``),
  un-annotated BINARY under ``binaryAsString``, and DATE/TIMESTAMP
  values before the calendar-rebase cutoffs in a file no Spark wrote
  (``datetimeRebaseModeInRead``; the row-group min statistics must
  prove every value is past it);
- the layout is no worse than a rewrite's: each file at most
  ``spark.sql.files.maxPartitionBytes`` (the rewrite would split it)
  and at most ``defaultParallelism`` files (it would write fewer).

The copy stages every byte in a hidden dir beside the table location
before it drops the old table, so a copy failure leaves the old table
intact; a later failure drops the new table and its location.  A crash
mid-copy leaves only the hidden stage dir.  The copied files keep the
source's encoding, so they may be larger than Spark's re-encoding.

Scale notes: the rewrite lands as parquet through ``saveAsTable`` with
partition-parallel tasks; pass ``partition_by`` to lay out big tables for
partition pruning downstream (something the reference cannot express).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..file import File, FileType
from ..sources.locations import stage_if_needed
from ..sources.readers import ParquetFooters, parquet_footers, read_file
from ..table import Table
from .cleanup import register_temp_table
from .timetravel import VersionedTable

# Spark rebases DATE/TIMESTAMP values from files no Spark wrote by
# ``spark.sql.parquet.datetimeRebaseModeInRead`` — only values before
# the Julian→Gregorian switch (dates) or 1900 (timestamps, covering
# every zone's switch offsets) can read differently.
_REBASE_MIN_DAYS = -141427  # 1582-10-15
_REBASE_MIN_SECONDS = -2208988800  # 1900-01-01T00:00:00Z
_UNITS_PER_SECOND = {"milliseconds": 10**3, "microseconds": 10**6}


def load_file(
    spark: SparkSession,
    input_file: File | str,
    output_table: Table | VersionedTable | None = None,
    if_exists: str = "replace",
    columns_names_capitalization: str = "original",
    schema: StructType | None = None,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    cluster_by: list[str] | tuple[int, list[str]] | None = None,
    zorder_by: list[str] | tuple[int, list[str]] | None = None,
    target_file_mb: int | float | None = None,
    csv_options: dict | None = None,
    merge_schema: bool = False,
    rescue_malformed: bool = False,
) -> DataFrame | Table:
    if isinstance(input_file, str):
        input_file = File(path=input_file)

    if schema is None and output_table is not None and output_table.columns:
        schema = StructType(output_table.columns)

    staged = stage_if_needed(input_file.path)
    source = (
        input_file
        if staged == input_file.path
        else dataclasses.replace(input_file, path=staged)
    )
    # a returned DataFrame or a temp view reads the staged download
    # lazily; a written table no longer needs it
    lazy = output_table is None or (
        isinstance(output_table, Table) and output_table.temp
    )
    df = None
    try:
        footers = _copy_footers(
            spark,
            source,
            output_table,
            if_exists=if_exists,
            columns_names_capitalization=columns_names_capitalization,
            schema=schema,
            layout=(partition_by, bucket_by, cluster_by, zorder_by, target_file_mb),
            merge_schema=merge_schema,
            rescue_malformed=rescue_malformed,
        )
        if footers is not None:
            _copy_load(spark, footers, output_table)
        else:
            df = read_file(
                spark,
                source,
                schema=schema,
                columns_names_capitalization=columns_names_capitalization,
                csv_options=csv_options,
                merge_schema=merge_schema,
                rescue_malformed=rescue_malformed,
            )
            if isinstance(output_table, VersionedTable):
                _save_versioned(
                    spark, df, output_table, if_exists, partition_by,
                    bucket_by, cluster_by, zorder_by, target_file_mb,
                )
            elif output_table is not None:
                save_dataframe_as_table(
                    df,
                    output_table,
                    if_exists=if_exists,
                    partition_by=partition_by,
                    bucket_by=bucket_by,
                    cluster_by=cluster_by,
                    zorder_by=zorder_by,
                    target_file_mb=target_file_mb,
                )
    finally:
        if source is not input_file and not lazy:
            os.remove(staged)

    from .. import lineage

    result = df if output_table is None else output_table
    if lineage.is_enabled(spark):
        lineage.emit_load_file(spark, input_file, result, df)
    return result


def _save_versioned(
    spark: SparkSession,
    df: DataFrame,
    output_table: VersionedTable,
    if_exists: str,
    partition_by: list[str] | None,
    bucket_by: tuple[int, list[str]] | None,
    cluster_by: list[str] | tuple[int, list[str]] | None,
    zorder_by: list[str] | tuple[int, list[str]] | None,
    target_file_mb: int | float | None,
) -> None:
    """Load into a versioned root: the reference's CTAS USING DELTA
    shape — a commit of a version instead of replaced files.
    partition_by maps to the log's PARTITIONED BY (one partition value
    per file, manifest-pruned reads); the other layout levers stay
    table-write-only (use tt_optimize(zorder_by=) for clustering after
    the load)."""
    ignored = [
        n
        for n, v in (
            ("bucket_by", bucket_by),
            ("cluster_by", cluster_by),
            ("zorder_by", zorder_by),
            ("target_file_mb", target_file_mb),
        )
        if v
    ]
    if ignored:
        raise ValueError(
            f"load_file: {', '.join(ignored)} do not apply to a "
            "VersionedTable target — the log addresses explicit file "
            "lists, not a Hive layout; use tt_optimize(zorder_by=) "
            "for clustering after the load"
        )
    from ..sources.tt_log import TableLog, _partition_cols_of
    from .timetravel import save_dataframe_versioned

    target = output_table
    if partition_by:
        if (
            output_table.partition_by is not None
            and list(output_table.partition_by) != list(partition_by)
        ):
            raise ValueError(
                "load_file: partition_by disagrees with the "
                "VersionedTable's own partition_by"
            )
        # an EXISTING table's layout lives in the head manifest
        # (the append/overwrite paths read it from there, never
        # from the handle) — a silent partition_by mismatch would
        # otherwise commit files laid out by the OLD columns while
        # the caller believes the new ones apply
        log = TableLog(output_table.root, spark)
        if log.versions():
            _v, head = log.head()
            actual = _partition_cols_of(head)
            if list(partition_by) != actual:
                raise ValueError(
                    f"load_file: partition_by={list(partition_by)} "
                    "disagrees with the existing versioned table's "
                    f"layout {actual} at {output_table.root} — "
                    "repartitioning an existing table needs "
                    "CREATE OR REPLACE ... PARTITIONED BY"
                )
        # don't mutate the caller's handle: carry the layout on a
        # copy (it only matters for the tt_create path)
        import copy as _copy

        target = _copy.copy(output_table)
        target.partition_by = list(partition_by)
    save_dataframe_versioned(spark, df, target, if_exists=if_exists)


def _copy_footers(
    spark: SparkSession,
    source: File,
    table: Table | VersionedTable | None,
    *,
    if_exists: str,
    columns_names_capitalization: str,
    schema: StructType | None,
    layout: tuple,
    merge_schema: bool,
    rescue_malformed: bool,
) -> ParquetFooters | None:
    """The copy-path predicate (module docstring): the input's footers
    when ``load_file`` may build ``table`` from byte copies of its
    files, else None.  The argument checks run before any listing."""
    if (
        not isinstance(table, Table)
        or table.temp
        or (source.filetype or FileType.PARQUET) != FileType.PARQUET
        or if_exists != "replace"
        or columns_names_capitalization != "original"
        or schema is not None
        or any(v is not None for v in layout)
        or merge_schema
        or rescue_malformed
    ):
        return None
    footers = parquet_footers(spark, source.path)
    if footers is None or not all(f.startswith("file:") for f in footers.files):
        return None
    sql_conf = spark._jsparkSession.sessionState().conf()
    if (
        len(footers.files) > spark.sparkContext.defaultParallelism
        or max(footers.sizes) > sql_conf.filesMaxPartitionBytes()
    ):
        return None
    if spark.catalog.tableExists(table.qualified_name) and (
        spark.catalog.getTable(table.qualified_name).tableType != "MANAGED"
    ):
        return None
    location = _managed_location(spark, table)
    if location is None:
        return None
    inside = os.path.realpath(location) + os.sep
    if any(os.path.realpath(_local(f)).startswith(inside) for f in footers.files):
        return None
    binary_as_string = sql_conf.isParquetBinaryAsString()
    if any(_setting_dependent(_local(f), binary_as_string) for f in footers.files):
        return None
    return footers


def _setting_dependent(path: str, binary_as_string: bool) -> bool:
    """Whether some column of the parquet file at ``path`` reads
    differently under a read-side setting a rewrite would bake in."""
    meta = pq.read_metadata(path)
    spark_written = b"org.apache.spark.version" in (meta.metadata or {})
    rebased = []  # (column index, lowest raw value that reads alike)
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        logical = col.logical_type.type
        if col.physical_type == "INT96":
            return True
        if logical == "TIMESTAMP":
            unit = json.loads(col.logical_type.to_json())["timeUnit"]
            if unit not in _UNITS_PER_SECOND:  # NANOS: nanosAsLong
                return True
            if not spark_written:
                rebased.append((i, _REBASE_MIN_SECONDS * _UNITS_PER_SECOND[unit]))
        elif logical == "DATE" and not spark_written:
            rebased.append((i, _REBASE_MIN_DAYS))
        elif col.physical_type == "BYTE_ARRAY" and logical == "NONE" and binary_as_string:
            return True
    for r in range(meta.num_row_groups):
        group = meta.row_group(r)
        for i, lowest in rebased:
            stats = group.column(i).statistics
            # no min/max is fine only for an all-null chunk
            if stats is None or (
                stats.min_raw < lowest if stats.has_min_max else stats.num_values > 0
            ):
                return True
    return False


def _local(uri: str) -> str:
    """Local path of a ``file:`` URI as Hadoop prints it."""
    path = uri[len("file:"):]
    return path[2:] if path.startswith("//") else path


def _default_location(spark: SparkSession, table: Table):
    """The catalog's managed location of ``table`` (a ``java.net.URI``);
    creates the table's database when it is missing."""
    if table.metadata.schema:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {table.metadata.schema}")
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table.qualified_name)
    return state.catalog().defaultTablePath(ident)


def _managed_location(spark: SparkSession, table: Table) -> str | None:
    """``table``'s managed location as a local path, or None when the
    warehouse is not on the local filesystem."""
    uri = _default_location(spark, table)
    return uri.getPath() if uri.getScheme() == "file" else None


def _copy_load(spark: SparkSession, footers: ParquetFooters, table: Table) -> None:
    """Replace ``table`` with a managed parquet table whose data files
    are byte copies of ``footers.files``.  Copy into a hidden stage dir
    beside the location, drop the old table, create the new one with
    the footer schema, move the copies in, refresh."""
    location = _managed_location(spark, table)
    token = uuid.uuid4().hex
    stage = os.path.join(os.path.dirname(location), f".astro_load_{token}")
    names = [f"part-{i:05d}-{token}.parquet" for i in range(len(footers.files))]
    os.makedirs(stage)
    try:
        for f, n in zip(footers.files, names):
            shutil.copyfile(_local(f), os.path.join(stage, n))
        name = table.qualified_name
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        try:
            _delete_orphan_location(spark, table)
            spark.catalog.createTable(name, source="parquet", schema=footers.schema)
            for n in names:
                os.replace(os.path.join(stage, n), os.path.join(location, n))
            spark.catalog.refreshTable(name)
        except BaseException:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(location, ignore_errors=True)
            raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def save_dataframe_as_table(
    df: DataFrame,
    table: Table,
    if_exists: str = "replace",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    cluster_by: list[str] | tuple[int, list[str]] | None = None,
    zorder_by: list[str] | tuple[int, list[str]] | None = None,
    target_file_mb: int | float | None = None,
) -> None:
    """Materialize a DataFrame under a Table handle.

    Temp tables become session temp views (they die with the session —
    the reference needs an explicit cleanup pass for this,
    ``sql/operators/cleanup.py``); permanent tables land in the catalog as
    parquet via saveAsTable.

    ``bucket_by=(n, cols)`` hash-buckets the table on ``cols`` —
    a persisted partitioning: later equi-joins and aggregations on the
    bucket columns between co-bucketed tables skip their shuffle
    entirely (SortMergeJoin without Exchange).  The 100 TB layout lever
    the reference cannot express.

    ``cluster_by=cols`` (or ``(n_files, cols)`` for an explicit file
    count) range-partitions then sorts rows by ``cols`` before writing,
    so each parquet file covers a narrow key range and selective scans
    prune on row-group min/max statistics (Z-order-lite for one ordering
    dimension).  The lever for needle-in-haystack point/range lookups
    that neither partitioning (too coarse for high-cardinality keys) nor
    bucketing (hash destroys ranges) covers.

    ``target_file_mb=N`` sizes the write to ~N MB output files (the
    Databricks "optimized write" analog, the 100 TB small-files lever):
    the task count comes from Catalyst's optimized-plan size estimate —
    on-disk bytes for parquet scans, scaled through filters/projections
    — never from a driver-side count.  With ``partition_by`` the
    repartition hashes ON the partition columns instead, so every
    partition value lands in exactly one task → exactly one file per
    partition directory (no small-files explosion; a genuinely hot
    partition then holds one large file — split that table by a finer
    partition key, or use AQE skew handling downstream).  Mutually
    exclusive with the three layout options, which carry their own
    file-count knobs.
    """
    layouts = [
        n
        for n, v in (
            ("zorder_by", zorder_by),
            ("cluster_by", cluster_by),
            ("bucket_by", bucket_by),
        )
        if v
    ]
    if len(layouts) > 1:
        # zorder/cluster/bucket are ALTERNATIVE physical layouts; applying
        # one after another silently destroys the first ordering
        raise ValueError(
            f"choose at most one physical layout, got: {', '.join(layouts)}"
        )
    if target_file_mb is not None:
        if layouts:
            raise ValueError(
                "target_file_mb conflicts with "
                f"{layouts[0]} (pass an explicit file count there instead)"
            )
        if target_file_mb <= 0:
            raise ValueError("target_file_mb must be positive")
        df = _repartition_to_target(df, target_file_mb, partition_by)
    spark = df.sparkSession
    if zorder_by:
        from astro_spark.plans.zorder import with_zorder_key

        if isinstance(zorder_by, tuple):
            n_files, zcols = zorder_by
        else:
            n_files, zcols = None, list(zorder_by)
        df = with_zorder_key(df, zcols)
        df = (
            df.repartitionByRange(n_files, "__zorder")
            if n_files
            else df.repartitionByRange("__zorder")
        ).sortWithinPartitions("__zorder").drop("__zorder")
    if cluster_by:
        if isinstance(cluster_by, tuple):
            n, cluster_cols = cluster_by
            cols = [F.col(c) for c in cluster_cols]
            df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        else:
            cols = [F.col(c) for c in cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    if table.temp:
        df.createOrReplaceTempView(table.name)
        register_temp_table(spark, table)
        return

    if table.metadata.schema:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {table.metadata.schema}")

    mode = "overwrite" if if_exists == "replace" else "append"
    if mode == "overwrite" and not spark.catalog.tableExists(table.qualified_name):
        # an orphaned location (e.g. left by a previous process sharing the
        # warehouse dir) blocks managed-table creation; clear it
        _delete_orphan_location(spark, table)
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    if mode == "append" and spark.catalog.tableExists(table.qualified_name):
        # align by name: Spark insertInto is position-based; the reference
        # appends by name through pandas to_sql (SURVEY §7 risk list)
        existing = spark.table(table.qualified_name)
        df = df.select(*[c for c in existing.columns if c in df.columns])
        writer = df.write.mode("append").format("parquet")
        if bucket_by:
            n, cols = bucket_by
            writer = writer.bucketBy(n, *cols).sortBy(*cols)
    writer.saveAsTable(table.qualified_name)


def _repartition_to_target(
    df: DataFrame, target_file_mb: float, partition_by: list[str] | None
) -> DataFrame:
    """Repartition so output files land near ``target_file_mb``.

    Catalyst's optimized-plan stats feed the task count (no extra job,
    no collect); an unknown estimate (Long.MaxValue sentinel when a
    plan node cannot propagate stats) leaves the partitioning alone
    rather than exploding the task count.
    """
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if est <= 0 or est >= (1 << 62):
        return df
    if partition_by:
        # one task per partition value → one file per partition dir
        return df.repartition(*[F.col(c) for c in partition_by])
    n = max(1, -(-est // int(target_file_mb * 1024 * 1024)))
    return df.repartition(n)


def _delete_orphan_location(spark: SparkSession, table: Table) -> None:
    jpath = spark._jvm.org.apache.hadoop.fs.Path(_default_location(spark, table))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, True)
