"""Stream-stream interval (event-time range) join.

The reference is batch-only (SURVEY §1.4); this is the Structured-
Streaming extension for attribution-style pairing a training-data or
clickstream pipeline needs: match each left event (e.g. a ``view``)
with right events (e.g. a ``purchase``) by the same key within a
bounded event-time gap.

Semantics and scale notes:
- Spark requires watermarks on BOTH streams plus a two-sided time-range
  join condition; the range bound is what lets the state store evict —
  each side keeps only rows younger than
  ``watermark - max_gap`` for its join partner.
- The join shuffles both streams on the key (state is co-partitioned
  by ``spark.sql.shuffle.partitions``); at scale pick a key with
  cardinality well above the partition count and size partitions so
  each state store holds O(rows-per-key-per-gap) — the gap bound, not
  the stream length, determines state.
- ``deterministic=True`` (the harness/test mode) sets an effectively
  infinite watermark delay so no row is ever dropped regardless of how
  the file backlog splits into micro-batches; production callers pass a
  real delay (e.g. ``"2 hours"``) and accept bounded late-data loss in
  exchange for bounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .drain import drain_to_memory, source

#: watermark delay used in deterministic mode: nothing is ever late,
#: state is never evicted (test/backfill only — unbounded state).
_DETERMINISTIC_DELAY = "3650 days"


def interval_join_stream(
    spark: SparkSession,
    input_path: str,
    left_filter: str,
    right_filter: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "1 hour",
    watermark_delay: str | None = None,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Pair left rows with right rows sharing ``key_col`` where the
    right timestamp falls in ``(left.ts, left.ts + max_gap]``.

    Both sides stream from the same file directory and are filtered by
    the given SQL predicates (e.g. ``"event_type = 'view'"``).  Drains
    the backlog with ``availableNow`` and returns the joined pairs as a
    batch DataFrame with columns (key, left_event_id, right_event_id).

    ``watermark_delay=None`` selects the deterministic no-late-drop
    mode; see module docstring for the production trade-off.
    """
    delay = watermark_delay or _DETERMINISTIC_DELAY
    left = source(spark, input_path, schema, max_files_per_trigger)
    # the right side reads the same files through its own source, with
    # the schema the left one resolved
    right = source(spark, input_path, left.schema, max_files_per_trigger)

    def _side(stream: DataFrame, filter_sql: str, alias: str) -> DataFrame:
        return stream.where(filter_sql).withWatermark(ts_col, delay).alias(alias)

    left = _side(left, left_filter, "l")
    right = _side(right, right_filter, "r")
    pairs = left.join(
        right,
        F.expr(
            f"l.{key_col} = r.{key_col} AND r.{ts_col} > l.{ts_col} "
            f"AND r.{ts_col} <= l.{ts_col} + interval {max_gap}"
        ),
    ).select(
        F.col(f"l.{key_col}").alias(key_col),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
    )

    return drain_to_memory(pairs)


def stream_static_join(
    spark: SparkSession,
    input_path: str,
    dim: DataFrame,
    on: str,
    select_cols: list[str],
    agg_by: str | None = None,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Enrich a file-source stream with a STATIC dimension table — the
    standard streaming-enrichment shape (fact stream ⋈ slowly-changing
    dim snapshot).

    Scale notes: a stream-static equi-join needs no watermark and keeps
    NO join state — each micro-batch joins against the current dim
    snapshot; Spark broadcasts the dim when it fits (the usual case for
    dimension tables), so the stream side never shuffles.  The dim
    DataFrame is re-evaluated per micro-batch, picking up dim updates
    between batches (snapshot-per-batch semantics; use a compacted dim
    table, not a view over raw CDC).

    Drains the backlog with ``availableNow``; returns the enriched rows
    (or a per-``agg_by`` count/sum aggregate) as a batch DataFrame.
    """
    stream = source(spark, input_path, schema, max_files_per_trigger)
    out = drain_to_memory(
        stream.join(dim, on=on, how="inner").select(*select_cols)
    )
    if agg_by:
        out = (
            out.groupBy(agg_by)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .orderBy(agg_by)
        )
    return out
