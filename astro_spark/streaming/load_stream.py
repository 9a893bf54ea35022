"""Structured-Streaming incremental file ingestion (Autoloader analog).

Reference: Databricks Autoloader ingestion mode (``constants.py:77-79``,
``databases/databricks/load_options.py:38``,
``load_file/load_file_job.py:77-79`` — which downgrades Autoloader to
COPY INTO for single files).  The reference is otherwise batch-only
(SURVEY §1.4); this module is the Spark-native extension that gives
``load_file`` an incremental mode:

- a file-source stream over a directory discovers NEW files only
  (checkpointed), exactly Autoloader's contract;
- the ``availableNow`` trigger processes the current backlog and stops —
  the "COPY INTO"-like batch-incremental mode.  Every drain in this
  package runs that way, through ``drain.py``.

At scale: file listing is incremental via the checkpoint log;
``maxFilesPerTrigger`` bounds micro-batch size; the sink appends to a
catalog parquet table (swap for Delta/Iceberg in production for exactly-
once semantics on top of the checkpoint).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..file import File
from ..table import Table
from .drain import drain, source


def load_file_stream(
    spark: SparkSession,
    input_file: File | str,
    output_table: Table,
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Incrementally load new files under a directory into a table.

    Returns the finished StreamingQuery; the sink directory is
    registered as the view ``output_table.name``.
    """
    stream = source(spark, input_file, schema, max_files_per_trigger)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    table_path = os.path.join(warehouse, f"{output_table.name}_stream")
    query = drain(stream, path=table_path, checkpoint_dir=checkpoint_dir)
    spark.read.schema(stream.schema).parquet(table_path).createOrReplaceTempView(
        output_table.name
    )
    return query


def load_file_stream_merge(
    spark: SparkSession,
    input_file: File | str,
    target_table: Table,
    conflict_columns: list[str],
    if_conflicts: str = "update",
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    auto_compact_every_n_batches: int | None = None,
    auto_compact_opts: dict | None = None,
):
    """CDC-style incremental ingestion: drain new files and MERGE each
    micro-batch into the target on ``conflict_columns``.

    ``foreachBatch`` hands every micro-batch to the batch ``merge``
    operator, composing the Autoloader contract (discover new files
    exactly once via the checkpoint) with upsert semantics — later
    files win on key collisions (``update``) or are dropped
    (``ignore``).  Per-batch write cost follows the batch merge's
    strategy choice: ``ignore`` appends only the new rows; ``update``
    on a PARTITIONED target rewrites only the partitions the batch
    touches (dynamic partition overwrite); ``update`` on an
    unpartitioned parquet target rewrites only the files whose keys
    the batch hits (file-scoped copy-on-write) — either way,
    micro-batch cost tracks batch size, not table size.  On
    Delta/Iceberg the merge body becomes a row-level ``MERGE INTO``.

    Many small batches accumulate small files.
    ``auto_compact_every_n_batches=N`` runs the ``auto_compact``
    POLICY (``operators.catalog``) after every Nth merged batch: one
    driver-side file listing per check, a rewrite only past the
    small-file threshold — the maintenance cadence wired into the
    drain instead of a separate job.  ``auto_compact_opts`` passes
    thresholds through (``small_file_mb``/``min_small_files``/
    ``target_file_mb``).  Compaction never changes table contents, so
    a replayed drain stays idempotent (pinned in tests).  NOTE: the
    compaction rewrite is unpartitioned — use it on unpartitioned
    CDC targets (partitioned targets already confine rewrites to
    touched partitions and rarely need it).
    """
    from ..operators.merge import merge

    n_merged = 0

    def _merge_batch(batch_df, batch_id: int) -> None:
        nonlocal n_merged
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        src = Table(f"_tmp_stream_src_{batch_id}")
        batch_df.createOrReplaceTempView(src.name)
        merge(
            sess,
            src,
            target_table,
            conflict_columns,
            if_conflicts=if_conflicts,
        )
        n_merged += 1
        if (
            auto_compact_every_n_batches
            and n_merged % auto_compact_every_n_batches == 0
        ):
            from ..operators.catalog import auto_compact

            # the merge may have staged-swapped the table; refresh THIS
            # (cloned foreachBatch) session's listing before compacting
            sess.catalog.refreshTable(target_table.qualified_name)
            auto_compact(sess, target_table, **(auto_compact_opts or {}))

    return drain(
        source(spark, input_file, schema, max_files_per_trigger),
        _merge_batch,
        checkpoint_dir=checkpoint_dir,
        refresh=target_table,
    )


def load_file_stream_changes(
    spark: SparkSession,
    input_file: File | str,
    target_table: Table,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    enforce_order: bool | None = None,
    expire_seq_older_than=None,
):
    """CDC ingestion WITH delete tombstones: drain new change files and
    ``apply_changes`` each micro-batch to the target — the
    streaming form of the APPLY CHANGES INTO surface
    (``operators/cdc.py``), composing the Autoloader discover-once
    contract with last-change-wins upsert+delete semantics.

    Within a batch ``seq_col`` orders changes per key; ACROSS batches
    ordering is enforced by the applied-seq sidecar whenever
    ``seq_col`` is given (``enforce_order`` defaults to that): the
    per-key applied sequence persists in ``<target>__applied_seq`` and
    a late-arriving file carrying a LOWER seq for a key — retried
    uploads, multi-writer feeds, routine on object stores — is
    DROPPED instead of overwriting newer state, so draining the same
    change files in ANY arrival order converges to the same target
    (pinned by the shuffled-file-order test).  Without a ``seq_col``
    the feed must be time-ordered by construction (file-arrival order
    applies).  A batch replayed after a checkpoint-committed crash
    re-applies the same change set, which is a no-op by
    ``apply_changes``'s idempotence (with the sidecar the replay is
    filtered out entirely).  Per-batch write cost follows the batch
    applier: merge-path upserts O(touched files/partitions),
    file-scoped tombstone deletes.

    ``expire_seq_older_than``: after the drain, run ONE
    ``expire_applied_seq`` pass with this horizon — the sidecar
    retention knob wired into the drain, so a high-churn key space
    doesn't need a separate maintenance job (dead-key entries older
    than the horizon drop; see ``expire_applied_seq`` for the
    resurrection-protection trade).  Requires ``enforce_order``.
    """
    from ..operators.cdc import apply_changes, expire_applied_seq

    if enforce_order is None:
        enforce_order = seq_col is not None
    if enforce_order and seq_col is None:
        raise ValueError("enforce_order=True requires seq_col")
    if expire_seq_older_than is not None and not enforce_order:
        raise ValueError(
            "expire_seq_older_than requires enforce_order (there is no "
            "applied-seq sidecar to expire otherwise)"
        )

    def _apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_changes(
            batch_df.sparkSession,
            target_table,
            batch_df,
            key_cols,
            op_col=op_col,
            seq_col=seq_col,
            track_seq=enforce_order,
        )

    query = drain(
        source(spark, input_file, schema, max_files_per_trigger),
        _apply_batch,
        checkpoint_dir=checkpoint_dir,
        refresh=target_table,
    )
    if expire_seq_older_than is not None:
        expire_applied_seq(
            spark, target_table, key_cols, expire_seq_older_than
        )
    return query


def load_file_stream_scd2(
    spark: SparkSession,
    input_file: File | str,
    target_table: Table,
    key_cols: list[str],
    attr_cols: list[str],
    effective_date_col: str,
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """History-preserving dimension drain: stream snapshot files into a
    Type-2 target — the streaming form of ``scd2_merge``
    (``operators/scd.py``), composing the Autoloader discover-once
    contract with Kimball close-and-open semantics.

    Each file carries dimension rows stamped with the snapshot date in
    ``effective_date_col`` (key_cols + attr_cols + the date column).  A
    micro-batch may span several snapshot dates (file backlog, small
    trigger windows): dates apply in ASCENDING order so history closes
    in date order even when one batch drains a multi-day backlog.  Rows
    sharing a key WITHIN one snapshot date raise — a snapshot with two
    states for one key has no defined Type-2 outcome (same guard as
    ``apply_changes`` without a seq_col).  Replaying a
    checkpoint-committed batch is a no-op: re-applying an identical
    snapshot matches every attribute, and ``scd2_merge`` leaves
    matching keys untouched.

    Per-date cost is ``scd2_merge``'s: one full-outer join between the
    batch snapshot and the CURRENT slice; at warehouse scale partition
    the target on ``valid_to IS NULL`` so the rewrite stays confined to
    the current partition.
    """
    from ..operators.scd import scd2_merge

    def _apply_batch(batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        dup = (
            batch_df.groupBy(effective_date_col, *key_cols)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "load_file_stream_scd2: a snapshot date carries multiple "
                f"rows for one key (e.g. {dup[0].asDict()}) — a Type-2 "
                "open/close per date needs exactly one state per key"
            )
        dates = sorted(
            r[0]
            for r in batch_df.select(effective_date_col).distinct().collect()
        )
        for d in dates:
            snap = batch_df.where(F.col(effective_date_col) == F.lit(d)).select(
                *key_cols, *attr_cols
            )
            scd2_merge(
                sess,
                target_table,
                snap,
                key_cols=key_cols,
                attr_cols=attr_cols,
                effective_date=str(d),
            )

    return drain(
        source(spark, input_file, schema, max_files_per_trigger),
        _apply_batch,
        checkpoint_dir=checkpoint_dir,
        refresh=target_table,
    )


def fan_out_stream(
    spark: SparkSession,
    input_path: str,
    sinks: dict[str, "Callable[[DataFrame], DataFrame]"],
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> dict[str, Table]:
    """One stream read fanned out to MANY sinks inside a single
    ``foreachBatch`` — the single-pass multi-sink pattern.

    ``sinks`` maps sink name → (batch DataFrame → DataFrame) transform;
    each result lands in its own table.  All sinks in a micro-batch
    commit from the SAME batch DataFrame (one source scan per batch, not
    one per sink).

    Replay-idempotence: ``foreachBatch`` is at-least-once — if sink k of
    N fails after sinks 1..k-1 committed, the checkpoint does not
    advance and the whole batch replays.  Each sink therefore writes
    its rows under a ``__batch_id`` partition committed with dynamic
    partition overwrite: a replayed batch OVERWRITES its own partition
    in every sink instead of appending duplicates, so the rerun
    converges (same contract Delta gets from ``txnVersion``).  The
    returned Table names are views that project the partition column
    away.  For cross-batch determinism, write per-batch PARTIAL
    aggregates and re-aggregate at read time (sums of sums are
    batch-split independent).
    """
    import uuid as _uuid

    out_tables = {
        name: Table(f"fan_{name}_{_uuid.uuid4().hex[:8]}") for name in sinks
    }

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        cached = batch_df.persist()
        try:
            for name, fn in sinks.items():
                _write_sink_batch(
                    fn(cached), f"{out_tables[name].name}_t", batch_id
                )
        finally:
            cached.unpersist()

    drain(
        source(spark, input_path, schema, max_files_per_trigger),
        _apply,
        checkpoint_dir=checkpoint_dir,
    )
    for name, t in out_tables.items():
        spark.table(f"{t.name}_t").drop("__batch_id").createOrReplaceTempView(t.name)
    return out_tables


def _write_sink_batch(out: DataFrame, phys_table: str, batch_id: int) -> None:
    """Commit one sink's micro-batch idempotently: rows are tagged with
    the batch id and written as a dynamic overwrite of that single
    ``__batch_id`` partition, so re-running the same (batch_id, rows)
    pair replaces rather than duplicates (pinned by
    ``test_replayed_batch_is_idempotent``)."""
    from pyspark.sql import functions as F

    out = out.withColumn("__batch_id", F.lit(int(batch_id)))
    sess = out.sparkSession
    if not sess.catalog.tableExists(phys_table):
        out.write.partitionBy("__batch_id").format("parquet").saveAsTable(phys_table)
        return
    prev = sess.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").insertInto(phys_table)
    finally:
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def compact_mv_partials(
    spark: SparkSession, mv_name: str, group_cols: list[str]
) -> int:
    """Collapse an aggregate-MV's per-batch partials into ONE
    pre-aggregated partition (``__batch_id = -1``) — the maintenance
    step the MV needs once n_batches grows large, since the MV read
    re-aggregates |groups| × n_batches partial rows.

    Additivity makes the fold exact: sums of sums — the MV is
    bit-identical before and after (pinned in TestAggregateMvStream).
    Safe under the checkpoint contract (committed batches never
    re-fire on resume; new batches land in their own ``__batch_id``
    partitions next to the compacted one).  After a checkpoint LOSS a
    replayed batch would double-count into compacted history — rebuild
    the partials from scratch in that case, exactly as without
    compaction.  Returns the number of batch partitions collapsed.
    """
    from pyspark.sql import functions as F

    phys = f"{mv_name}_partials"
    partials = spark.table(phys)
    n_parts = partials.select("__batch_id").distinct().count()
    if n_parts <= 1:
        return 0
    dtypes = dict(partials.dtypes)
    measures = [
        c for c in partials.columns if c not in group_cols + ["__batch_id"]
    ]
    folded = (
        partials.drop("__batch_id")
        .groupBy(*group_cols)
        .agg(*[F.sum(c).cast(dtypes[c]).alias(c) for c in measures])
        .withColumn("__batch_id", F.lit(-1).cast(dtypes["__batch_id"]))
        .select(*partials.columns)
    )
    # materialize the fold OUTSIDE the table (Spark cannot overwrite a
    # table it is reading), then a STATIC-mode INSERT OVERWRITE replaces
    # every batch partition with the single -1 partition atomically at
    # the catalog level — a table rename would strand the partition
    # locations the catalog recorded for the staging name
    staging_dir = tempfile.mkdtemp(prefix="astro_mv_compact_")
    try:
        folded.write.mode("overwrite").parquet(staging_dir)
        staged = spark.read.parquet(staging_dir).select(*partials.columns)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            staged.write.mode("overwrite").insertInto(phys)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    finally:
        shutil.rmtree(staging_dir, ignore_errors=True)
    spark.catalog.refreshTable(phys)
    return n_parts


def aggregate_mv_stream(
    spark: SparkSession,
    input_path: str,
    group_cols: list[str],
    agg_fn: "Callable[[DataFrame], DataFrame]",
    mv_name: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    compact_partials_over_n_batches: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Incrementally-maintained aggregate materialized view: each
    micro-batch contributes a PARTIAL aggregate; the MV is the
    re-aggregation over partials ("sums of sums").

    ``agg_fn`` maps a batch DataFrame to its partial-aggregate frame —
    it must keep ``group_cols`` and emit only ADDITIVE measures
    (counts, integer sums; derive averages at read time as sum/count).
    Additivity is what makes the result independent of how the stream
    was batch-split AND makes replay safe: partials land under a
    ``__batch_id`` partition committed with dynamic partition
    overwrite (the ``fan_out_stream`` idempotency contract), so an
    at-least-once replay overwrites its own partition instead of
    double-counting.

    Cost model at scale: per batch one partial aggregation (map-side
    combine, O(batch)) + one partition write; the MV read re-aggregates
    |groups| × n_batches tiny partial rows —
    ``compact_partials_over_n_batches=N`` folds them back to one
    pre-aggregated partition after any drain that leaves more than N
    batch partitions (``compact_mv_partials``; MV provably unchanged).
    The base data is never re-scanned: THE incremental-view
    maintenance shape for append-only streams.

    Registers the MV as a temp view ``mv_name`` and returns its frame.
    """
    stream = source(spark, input_path, schema, max_files_per_trigger)
    phys = f"{mv_name}_partials"
    if checkpoint_dir is None and spark.catalog.tableExists(phys):
        # fresh (auto-created) checkpoint: partials under the same
        # mv_name belong to a previous logical stream — without this a
        # rerun over a shorter input would re-aggregate the old run's
        # higher __batch_id partitions into the MV
        spark.sql(f"DROP TABLE IF EXISTS {phys}")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        _write_sink_batch(agg_fn(batch_df), phys, batch_id)

    drain(stream, _commit, checkpoint_dir=checkpoint_dir)

    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(phys):
        # zero files matched → no batch ever fired → empty MV with the
        # aggregated schema (agg_fn over an empty batch defines it)
        mv = agg_fn(spark.createDataFrame([], stream.schema))
        mv.createOrReplaceTempView(mv_name)
        return mv

    if (
        compact_partials_over_n_batches is not None
        and spark.table(phys).select("__batch_id").distinct().count()
        > compact_partials_over_n_batches
    ):
        compact_mv_partials(spark, mv_name, group_cols)

    partials = spark.table(phys).drop("__batch_id")
    measures = [c for c in partials.columns if c not in group_cols]
    mv = partials.groupBy(*group_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in measures]
    )
    mv.createOrReplaceTempView(mv_name)
    return mv


def ivf_index_stream(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> int:
    """Streaming ANN index maintenance: each micro-batch of vectors is
    assigned against the index's STORED centroids and appended into its
    cell-partition directories (``ivf_append_index`` per batch — O(batch)
    work, base files untouched, probes keep pruning at the file level).

    The centroid table is read once per drain and the assignment is a
    map-only projection, so a batch costs one scan + one partitioned
    append; no state store, no shuffle.  Checkpointed ``availableNow``
    drain (the Autoloader pattern): restarts resume from the last
    committed batch, and an append replayed after a crash lands
    duplicate rows — dedup on ``id_col`` at read time or rebuild the
    cell, exactly the Delta-append contract.  Returns the number of
    micro-batches drained.
    """
    from ..functions.similarity import ivf_assign, ivf_read_centroids

    centroids = ivf_read_centroids(spark, index_path)
    n_batches = 0

    def _append(batch_df, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        assigned = ivf_assign(batch_df, centroids, vec_col=vec_col)
        assigned.write.mode("append").partitionBy("cell").parquet(index_path)

    drain(source(spark, input_path, schema, max_files_per_trigger), _append)
    return n_batches


def load_file_stream_versioned(
    spark: SparkSession,
    input_file: File | str,
    root: str,
    conflict_columns: list[str] | None = None,
    schema: StructType | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming ingestion into a VERSIONED parquet table: every
    micro-batch commits one version of the ``operators.timetravel``
    log — Delta's flagship streaming shape (ACID per-batch commits +
    time travel over the ingest history) on plain parquet.

    ``conflict_columns=None`` appends each batch (``tt_append`` — one
    manifest per batch, O(batch) write); with keys each batch upserts
    (``tt_merge`` — file-scoped copy-on-write, O(touched files)).
    Either way a reader can time-travel to the table as of any batch
    boundary, and a crashed batch leaves invisible data files only
    (the manifest IS the commit point) — replaying it under
    at-least-once ``foreachBatch`` delivery re-commits the same rows
    as a fresh version: append replays duplicate rows (exactly-once
    needs the checkpoint, which availableNow provides), merge replays
    idempotently by key.

    The versioned root must already exist (``tt_create`` the seed —
    the stream needs a v0 schema/state to merge into).
    """
    from ..operators.timetravel import tt_append, tt_merge

    def _commit(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        if conflict_columns:
            tt_merge(sess, batch_df, root, conflict_columns)
        else:
            tt_append(sess, batch_df, root)

    return drain(
        source(spark, input_file, schema, max_files_per_trigger),
        _commit,
        checkpoint_dir=checkpoint_dir,
    )
