"""Row-level DML on plain-parquet tables: DELETE and UPDATE.

The reference delegates row-level changes to engines that have them
(Delta ``MERGE``/``DELETE``, ``databases/databricks/delta.py``); plain
parquet has no row-level ops, so these are emulated.

Physical strategy (mirrors the merge operator's ladder):

1. **File-scoped copy-on-write** (parquet tables, partitioned or not;
   ``operators/cow.py``): find the data files containing ≥1 row matching
   the condition (parquet row-group stats and partition pruning cut the
   discovery scan), rewrite ONLY those files in place (inside their
   partition directories when partitioned), swap the new generation
   in for the old.  A selective DELETE on 100 TB rewrites the matching
   files, not the table.  Untouched files keep their paths (pinned by
   ``test_delete_file_scoped`` / ``test_partitioned_dml_file_scoped``).
   DELETE never moves rows between partitions; UPDATE takes this path
   only when ``set_map`` touches no partition column (otherwise rows
   could move).
2. **Staged swap** (non-parquet providers, a touched-file set over the
   cap, or an UPDATE rewriting a partition column): full rewrite
   through a staging table + rename — readers never observe a
   half-applied change.  On Delta/Iceberg swap these bodies for
   ``DELETE FROM``/``UPDATE`` SQL.

Condition strings are Spark SQL expressions evaluated against the
table's columns (identifier-guarded callers should prefer Column
objects).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import Table
from . import cow
from .merge import _partition_columns, _swap_table


def _as_table(table: Table | str) -> Table:
    return table if isinstance(table, Table) else Table(str(table), temp=False)


def delete_rows(
    spark: SparkSession, table: Table | str, condition: Column | str
) -> int:
    """Delete rows matching ``condition``; returns the number deleted."""
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # SQL three-valued logic: a NULL condition matches nothing, so those
    # rows must be KEPT — coalesce before negating
    cond = F.coalesce(cond, F.lit(False))
    n = df.where(cond).count()
    if n == 0:
        return 0
    # DELETE never moves a row between partitions → file-scoped COW is
    # safe on partitioned and unpartitioned tables alike
    c = cow.open_table(spark, t.qualified_name)
    if c is not None and c.find(where=cond):
        c.commit(c.rows().where(~cond), _partition_columns(spark, t))
        return n
    _swap_table(spark, df.where(~cond), t)
    return n


def delete_rows_by_keys(
    spark: SparkSession,
    table: Table | str,
    keys_df: DataFrame,
    key_cols: list[str],
    scan_filter: Column | None = None,
) -> int:
    """DELETE every row whose ``key_cols`` tuple appears in ``keys_df``
    — the relational form of DELETE for key sets too large (or too
    wide) to push down as a literal predicate.

    Physical strategy: the touched-file set is discovered with a
    LEFT SEMI join of the metadata-tagged table against the key
    relation (broadcast when small, shuffled equi-join otherwise —
    never an expression tree, so 10 million tombstones cost the same
    plan shape as 10), then ONLY those files are rewritten with a
    LEFT ANTI join (file-scoped copy-on-write).  Delete cost is
    O(touched files) at ANY key count — the 100 TB CDC-drain shape.
    ``scan_filter`` optionally narrows the discovery scan with a
    sargable superset predicate (e.g. per-column ``isin`` for a small
    multi-column key set) so parquet min/max pruning still applies;
    exactness always comes from the joins, never the filter.

    Returns the number of rows deleted.
    """
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    keys = keys_df.select(*key_cols).distinct()
    c = cow.open_table(spark, t.qualified_name)
    if c is not None and c.find(where=scan_filter, keys=keys):
        if not c.files:
            return 0
        touched = c.rows()
        n = touched.join(keys, on=key_cols, how="left_semi").count()
        c.commit(
            touched.join(keys, on=key_cols, how="left_anti"),
            _partition_columns(spark, t),
        )
        return n
    # non-parquet provider / no file metadata / touched set over the cap:
    # staged swap (readers never observe a half-applied delete)
    n = df.join(keys, on=key_cols, how="left_semi").count()
    if n:
        _swap_table(spark, df.join(keys, on=key_cols, how="left_anti"), t)
    return n


def update_rows(
    spark: SparkSession,
    table: Table | str,
    set_map: dict[str, Column | str],
    condition: Column | str | None = None,
) -> int:
    """UPDATE ``set_map`` (column → expression) on rows matching
    ``condition`` (all rows when None); returns the number updated."""
    t = _as_table(table)
    df = spark.table(t.qualified_name)
    cond = (
        F.lit(True)
        if condition is None
        else (F.expr(condition) if isinstance(condition, str) else condition)
    )
    n = df.where(cond).count()
    if n == 0:
        return 0

    def _apply(frame: DataFrame) -> DataFrame:
        return frame.select(
            *[
                F.when(
                    cond,
                    F.expr(set_map[c])
                    if isinstance(set_map.get(c), str)
                    else set_map.get(c, F.col(c)),
                ).otherwise(F.col(c)).alias(c)
                if c in set_map
                else F.col(c)
                for c in df.columns
            ]
        )

    # UPDATE can move rows between partitions only when the set_map
    # touches a partition column — COW is safe otherwise
    part_cols = _partition_columns(spark, t)
    if not (set(part_cols) & set(set_map)):
        c = cow.open_table(spark, t.qualified_name)
        if c is not None and c.find(where=cond):
            c.commit(_apply(c.rows()), part_cols)
            return n
    _swap_table(spark, _apply(df), t)
    return n
