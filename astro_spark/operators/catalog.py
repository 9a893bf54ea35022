"""Catalog micro-primitives — the ``BaseDatabase`` introspection surface.

Reference: ``databases/base.py:43-944``, the internal primitives every
backend reimplements per dialect (``table_exists`` 174-196,
``schema_exists`` 776-798, ``row_count`` 835-846, ``fetch_all_rows``
446-459, ``create_table_using_columns`` 257-268,
``export_table_to_pandas_dataframe`` 734-751).  One Spark catalog
replaces nine dialect implementations; each primitive is a one-hop
catalog or SQL call.

Scale notes: these are metadata operations (no data movement) except
``row_count`` (a count job — metadata-only for parquet thanks to
row-group statistics) and the two explicit materialization points
(``fetch_all_rows``, ``export_table_to_pandas_dataframe``), which are
driver-side by contract and bounded by the caller's limit.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.writers import _hadoop_fs
from ..table import Table, validate_identifier
from . import cow


def table_exists(spark: SparkSession, table: Table | str) -> bool:
    name = table.qualified_name if isinstance(table, Table) else table
    return spark.catalog.tableExists(name)


def schema_exists(spark: SparkSession, schema: str) -> bool:
    validate_identifier(schema)
    return spark.catalog.databaseExists(schema)


def create_schema_if_not_exists(spark: SparkSession, schema: str) -> None:
    validate_identifier(schema)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")


def columns_exist(spark: SparkSession, table: Table | str, columns: list[str]) -> bool:
    """True iff every name in ``columns`` is a column of ``table``
    (case-insensitive, matching Spark's resolver)."""
    name = table.qualified_name if isinstance(table, Table) else table
    have = {c.lower() for c in spark.table(name).columns}
    return all(c.lower() in have for c in columns)


def row_count(spark: SparkSession, table: Table | str) -> int:
    name = table.qualified_name if isinstance(table, Table) else table
    return spark.table(name).count()


def fetch_all_rows(
    spark: SparkSession, table: Table | str, row_limit: int = -1
) -> list[Row]:
    """Collect rows to the driver, optionally LIMIT-bounded
    (reference ``base.py:446-459``)."""
    name = table.qualified_name if isinstance(table, Table) else table
    df = spark.table(name)
    if row_limit >= 0:
        df = df.limit(row_limit)
    return df.collect()


def create_table(
    spark: SparkSession, table: Table | str, schema: StructType
) -> None:
    """Create an empty table from an explicit schema (reference
    ``create_table_using_columns``, ``base.py:257-268``)."""
    name = table.qualified_name if isinstance(table, Table) else table
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    for f in schema.fields:
        validate_identifier(f.name)
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet")


def export_table_to_pandas(spark: SparkSession, table: Table | str):
    """Full-table export to pandas (reference ``base.py:734-751``) — the
    explicit driver-side materialization point; prefer ``spark.table``
    for anything that continues distributed."""
    name = table.qualified_name if isinstance(table, Table) else table
    return spark.table(name).toPandas()


def analyze_table(
    spark: SparkSession,
    table: Table | str,
    columns: list[str] | None = None,
) -> dict[str, str]:
    """Collect table (and optionally column) statistics for Catalyst's
    cost-based optimizer; returns the recorded stats.

    At 100 TB this is the lever that turns join-order and build-side
    guesses into informed choices: with ``spark.sql.cbo.enabled`` (and
    ``spark.sql.statistics.histogram.enabled`` for skewed columns),
    ANALYZE'd row counts / NDVs / min-max feed broadcast decisions and
    join reordering.  The reference delegates statistics entirely to the
    backing warehouse (Snowflake/BigQuery keep their own); on Spark the
    catalog owns them and collection is explicit.
    """
    from ..table import Table as _Table

    t = table if isinstance(table, _Table) else _Table(str(table), temp=False)
    name = t.qualified_name
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    return {
        r.col_name: r.data_type
        for r in rows
        if r.col_name in ("Statistics",) or (columns and r.col_name in columns)
    }


def compact_table(
    spark: SparkSession,
    table: Table | str,
    n_files: int | None = None,
    target_rows_per_file: int = 5_000_000,
    target_file_mb: int | float | None = None,
) -> int:
    """Rewrite a table into fewer, right-sized files; returns the file
    count written.

    The small-files problem is the dominant operational cost of
    append-heavy ingestion (every micro-batch lands more files; scans
    pay per-file open + listing).  ``n_files`` forces an exact count;
    otherwise it is derived from the row count.  Uses the staged-swap
    pattern (write staging, rename) so readers never observe a
    half-rewritten table.  On Delta/Iceberg use OPTIMIZE/rewrite_files
    instead — this is the plain-parquet analog.
    """
    from ..table import Table as _Table
    from .merge import _swap_table

    t = table if isinstance(table, _Table) else _Table(str(table), temp=False)
    df = spark.table(t.qualified_name)
    if n_files is None and target_file_mb is not None:
        # byte-targeted: same Catalyst-stats sizing as load_file's
        # target_file_mb (no extra job; row-count fallback below if the
        # estimate is the unknown sentinel)
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if 0 < est < (1 << 62):
            n_files = max(1, -(-est // int(target_file_mb * 1024 * 1024)))
    if n_files is None:
        n_files = max(1, (df.count() + target_rows_per_file - 1) // target_rows_per_file)
    _swap_table(spark, df.repartition(n_files), t)
    return n_files


def auto_compact(
    spark: SparkSession,
    table: Table | str,
    small_file_mb: int | float = 16,
    min_small_files: int = 4,
    target_file_mb: int | float = 128,
) -> int:
    """Compaction POLICY: rewrite the table only when it has
    accumulated at least ``min_small_files`` files under
    ``small_file_mb`` — the maintenance cadence a streaming-ingest
    table actually needs (``compact_table`` run unconditionally
    rewrites a healthy table for nothing).

    File sizes come from one driver-side Hadoop listing (no data job);
    when the policy triggers, the rewrite is ``compact_table`` with
    the byte target.  Returns the file count written, or 0 when the
    table is left untouched — callers can schedule this after every
    CDC drain and pay only when it matters.
    """
    from ..table import Table as _Table

    t = table if isinstance(table, _Table) else _Table(str(table), temp=False)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {t.qualified_name}")
        .where("col_name = 'Location'")
        .collect()
    )
    if not loc:
        return 0
    path = loc[0]["data_type"]
    _HPath, jpath, fs = _hadoop_fs(spark, path)
    it = fs.listFiles(jpath, True)
    small = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if f.getLen() < small_file_mb * 1024 * 1024:
            small += 1
    if small < min_small_files:
        return 0
    return compact_table(spark, t, target_file_mb=target_file_mb)


def vacuum_table(spark: SparkSession, table: Table | str) -> int:
    """Reclaim leftover hidden staging from interrupted copy-on-write
    commits (the plain-parquet analog of Delta ``VACUUM``).

    A crash during a COW data write leaves an inert ``.cow_stage_*``
    directory inside the table location — invisible to readers (dot
    prefix) but occupying storage.  Deletes every such directory and
    returns the count.  Safe while readers run: live data files are
    never touched, and a stage dir whose commit manifest still exists
    is SKIPPED — that commit reached its decision point and belongs to
    ``recover_table`` (run recovery first, then vacuum).  The protocol
    lives in ``operators/cow.py``.
    """
    t = table if isinstance(table, Table) else Table(str(table), temp=False)
    location = cow.parquet_location(spark, t.qualified_name)
    if location is None:
        return 0
    return cow.vacuum(spark, location)


def recover_table(spark: SparkSession, table: Table | str) -> int:
    """Roll interrupted copy-on-write commits FORWARD to completion.

    Every COW commit (merge/DELETE/UPDATE/CDC on parquet targets)
    persists a write-ahead manifest — the exact old-file set to retire
    — before its rename/delete window, and deletes it as the commit's
    final act (``operators/cow.py``).  A manifest found on disk
    therefore marks a commit that was DECIDED but interrupted: this
    replays the commit's own roll-forward — renames any part-files
    still in the stage dir to their committed names (partition subdirs
    preserved), deletes the old files that remain, removes the stage
    dir, then the manifest.  Each step is idempotent, so recovery
    itself may crash and re-run.  A truncated manifest (a crash before
    the decision point) is deleted so new commits can proceed.  Returns
    the number of commits completed.  Transient duplicates readers
    could see mid-crash disappear the moment recovery finishes — the
    parquet-table analog of a write-ahead-log redo pass.
    """
    t = table if isinstance(table, Table) else Table(str(table), temp=False)
    location = cow.parquet_location(spark, t.qualified_name)
    if location is None:
        return 0
    n = cow.recover(spark, location)
    if n:
        try:
            spark.catalog.refreshTable(t.qualified_name)
        except AnalysisException:
            pass
    return n


def diff_tables(
    spark: SparkSession,
    left: Table | str,
    right: Table | str,
    key_cols: list[str],
) -> DataFrame:
    """Row-level diff of two table snapshots on a key: returns
    (diff_status ∈ added/removed/changed, *key_cols) — the verification
    tool behind migrations, backfills, and CDC replays.

    One full-outer join on the keys; non-key columns compare via TWO
    independent hashes (xxhash64 + murmur3) over an interleaving of
    per-column isnull flags and the raw (un-cast) values, so the shuffle
    carries keys + two small ints per side regardless of row width.
    The isnull flag keeps NULL distinguishable from any real value
    (including a literal ``'\\x00'`` string); the second hash pushes the
    silent-collision probability below 2^-90 per row pair.  Both tables
    must expose the same non-key column set — a right-only or left-only
    attribute is a schema diff the row hash cannot see, so it raises.
    Unchanged rows are dropped before the result materializes.
    """
    lname = left.qualified_name if isinstance(left, Table) else left
    rname = right.qualified_name if isinstance(right, Table) else right
    return diff_dataframes(
        spark.table(lname), spark.table(rname), key_cols,
        names=(lname, rname),
    )


def diff_dataframes(
    l_df: DataFrame,
    r_df: DataFrame,
    key_cols: list[str],
    names: tuple[str, str] = ("left", "right"),
) -> DataFrame:
    """DataFrame-level core of ``diff_tables`` (same hashing contract) —
    also the engine behind ``timetravel.tt_diff`` version diffs."""
    lname, rname = names
    attrs = [c for c in l_df.columns if c not in key_cols]
    r_attrs = [c for c in r_df.columns if c not in key_cols]
    if set(attrs) != set(r_attrs):
        raise ValueError(
            f"diff_tables: non-key columns differ between {lname} "
            f"({sorted(set(attrs) - set(r_attrs))} only-left) and {rname} "
            f"({sorted(set(r_attrs) - set(attrs))} only-right)"
        )

    def _sig(df: DataFrame, side: str) -> DataFrame:
        hash_inputs = []
        for c in attrs:
            hash_inputs.append(F.isnull(F.col(c)))
            hash_inputs.append(F.col(c))
        return df.select(
            *key_cols,
            F.xxhash64(*hash_inputs).alias(f"__h_{side}"),
            F.hash(*hash_inputs).alias(f"__g_{side}"),
            F.lit(True).alias(f"__p_{side}"),
        )

    j = _sig(l_df, "l").join(_sig(r_df, "r"), on=key_cols, how="full_outer")
    status = (
        F.when(F.col("__p_l").isNull(), F.lit("added"))
        .when(F.col("__p_r").isNull(), F.lit("removed"))
        .when(
            (F.col("__h_l") != F.col("__h_r")) | (F.col("__g_l") != F.col("__g_r")),
            F.lit("changed"),
        )
    )
    return (
        j.withColumn("diff_status", status)
        .where(F.col("diff_status").isNotNull())
        .select("diff_status", *key_cols)
    )
