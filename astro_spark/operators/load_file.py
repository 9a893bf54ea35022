"""load_file: file(s) → catalog table (or DataFrame).

Reference: ``sql/operators/load_file.py:37-406`` + engine half at
``databases/base.py:474-542``.  Semantics kept:
- ``output_table=None`` → return the DataFrame (reference returns pandas;
  we return a *lazy Spark* DataFrame — the 100 TB-safe analog)
- ``if_exists`` ∈ {replace, append}            (constants.py:86)
- ``columns_names_capitalization`` ∈ {original, lower, upper}
- explicit columns (schema) vs autodetect      (databases/base.py:396-444)
- nested NDJSON flatten via normalize_config   (load_file.py:205-243)

Dropped by design: the native-path-vs-pandas duality and its fallback
allowlists (``base.py:523-542,591-637``) — Spark's executor-parallel read
IS the native path for every store/format; permissive CSV parsing covers
the "fallback" role.

Scale notes: the write lands as parquet through ``saveAsTable`` with
partition-parallel tasks; pass ``partition_by`` to lay out big tables for
partition pruning downstream (something the reference cannot express).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..file import File
from ..sources.readers import read_file
from ..table import Table
from .cleanup import register_temp_table
from .timetravel import VersionedTable


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

    df = read_file(
        spark,
        input_file,
        schema=schema,
        columns_names_capitalization=columns_names_capitalization,
        csv_options=csv_options,
        merge_schema=merge_schema,
        rescue_malformed=rescue_malformed,
    )

    from .. import lineage

    if output_table is None:
        if lineage.is_enabled(spark):
            lineage.emit_load_file(spark, input_file, df, df)
        return df

    if isinstance(output_table, VersionedTable):
        # the reference's CTAS USING DELTA shape: loading into a
        # versioned root commits a version instead of replacing files.
        # partition_by maps to the log's PARTITIONED BY (round 13) —
        # one partition value per file, manifest-pruned reads; the
        # other layout levers stay table-write-only (use
        # tt_optimize(zorder_by=) for clustering after the load).
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
        if lineage.is_enabled(spark):
            lineage.emit_load_file(spark, input_file, output_table, df)
        return output_table

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
    if lineage.is_enabled(spark):
        lineage.emit_load_file(spark, input_file, output_table, df)
    return output_table


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
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if not warehouse:
        return
    db = table.metadata.schema
    location = (
        f"{warehouse.rstrip('/')}/{db}.db/{table.name}"
        if db
        else f"{warehouse.rstrip('/')}/{table.name}"
    )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, True)
