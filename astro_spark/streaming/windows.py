"""Watermarked tumbling-window aggregation over a file-source stream.

The reference is batch-only (SURVEY §1.4); this is the Structured-
Streaming extension for event-time rollups a training-data pipeline
needs (hourly ingest counts, per-type rates).

Semantics and scale notes:
- ``withWatermark(ts, delay)`` bounds state: windows older than
  ``max(event_time) - delay`` are finalized and their state dropped.
- Output mode matters: ``append`` emits each window exactly once when
  the watermark passes it (the production mode — bounded state, late
  data beyond the delay dropped); ``complete`` keeps every window in
  the state store and re-emits — used here with ``availableNow`` for a
  deterministic batch-equivalent result (nothing depends on how the
  backlog splits into micro-batches).
- The aggregation is a standard partial-agg + shuffle on (window) —
  at scale the state store is partitioned by the group key, so hot
  windows shard across ``spark.sql.shuffle.partitions`` tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .drain import BatchDirs, Held, drain, drain_to_memory, source


def windowed_counts_stream(
    spark: SparkSession,
    input_path: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Stream files under ``input_path`` through a watermarked tumbling
    window count; drain the backlog (``availableNow``) and return the
    result as a DataFrame.

    Returns columns (hour, n_events) where ``hour`` is the window start
    formatted ``yyyy-MM-dd HH`` (epoch-aligned tumbling windows).
    """
    agg = (
        source(spark, input_path, schema, max_files_per_trigger)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            "n_events",
        )
    )

    return drain_to_memory(agg, output_mode)


def late_data_windowed_counts(
    spark: SparkSession,
    input_path: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Append-mode watermarked window counts over a multi-file backlog,
    ONE file per micro-batch (modification-time order).

    This surfaces the two watermark behaviors ``complete`` mode hides:

    - **late rows are dropped** — a row arriving in a later batch whose
      window the watermark already passed never reaches the count;
    - **open windows are withheld** — windows newer than the final
      watermark stay in the state store and are never emitted.

    Both are the production bounded-state contract at 100 TB/day stream
    volumes; pinning the file→batch split makes them deterministic and
    oracle-checkable.
    """
    return windowed_counts_stream(
        spark,
        input_path,
        ts_col=ts_col,
        window_duration=window_duration,
        watermark_delay=watermark_delay,
        output_mode="append",
        max_files_per_trigger=1,
    )


def drift_screen_stream(
    spark: SparkSession,
    input_path: str,
    ref_df: DataFrame,
    bin_expr: str = "n_chars DIV 100",
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming distribution-drift monitor: every micro-batch's bin
    histogram is compared against a STATIC reference corpus with the
    BIGINT-exact ``distribution_drift`` arithmetic — the "is this feed
    changing under me?" alarm a continuously-ingesting pipeline needs.

    The reference histogram is computed ONCE per drain and persisted
    (≤|bins| rows); each micro-batch then costs one bounded groupBy over
    the batch plus a tiny-table join — no rescan of the reference, no
    state store.  Per-batch rows append to an idempotent one-subdir-per-
    batch layout (replays overwrite, not duplicate).

    Returns (batch_id, bin, n_ref, n_cand, p_ref_e6, p_cand_e6, contrib)
    across the whole drain: contrib localizes WHERE the batch moved away
    from the reference; sum it per batch for an alarm threshold.
    """
    from ..functions.sampling import distribution_drift

    out = BatchDirs("drift_screen")
    with Held() as held:
        ref_counts = held.persist(
            ref_df.select(F.expr(bin_expr).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_ref"))
        )
        ref_counts.count()  # materialize once, not per micro-batch

        def _screen(batch_df, batch_id: int) -> None:
            drift = distribution_drift(
                None, batch_df, F.expr(bin_expr), ref_counts=ref_counts
            )
            out.write(drift, batch_id)

        drain(source(spark, input_path, schema, max_files_per_trigger), _screen)
    return out.read(
        spark,
        "batch long, bin string, n_ref long, n_cand long, "
        "p_ref_e6 long, p_cand_e6 long, contrib long",
    ).select(
        F.col("batch").cast("long").alias("batch_id"),
        "bin",
        "n_ref",
        "n_cand",
        "p_ref_e6",
        "p_cand_e6",
        "contrib",
    )
