"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState``.

The reference has no streaming at all; this is the canonical "operator
Spark lacks as a built-in" (SURVEY §2.4 extension path (b)): per-key
imperative state, expressed with Arrow-batched pandas, never row-at-a-
time Python.

Semantics:
- events are grouped by ``user_id``; within a group, consecutive events
  whose (floor-second) gap exceeds ``gap_seconds`` belong to different
  sessions;
- a CLOSED session (a newer event proved the gap) is emitted
  immediately; the trailing open session stays in the state store and
  is emitted only when a later batch closes it — so the stream never
  speculates about still-open sessions.

Scale notes:
- state is one fixed-size tuple per active user — the state store
  shards on user_id across shuffle partitions; skewed users cost only
  their event rows, not state size;
- ``applyInPandasWithState`` moves each group as Arrow batches, one
  Python roundtrip per user per micro-batch.

Ordering contract: events are sorted within each micro-batch, but
MICRO-BATCHES must arrive in event-time order per user (true for
append-only logs drained ``availableNow``, and for live ingestion whose
producers emit in order).  For sources with cross-batch disorder use
the declarative ``F.session_window`` + watermark instead — that form
tolerates lateness up to the watermark delay but cannot express the
"emit only proven-closed sessions" contract this operator guarantees.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-exported pattern)
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from .drain import BatchDirs, Held, drain, drain_to_memory, source

OUTPUT_SCHEMA = (
    "user_id bigint, session_start bigint, session_end bigint, n_events bigint"
)
STATE_SCHEMA = "start bigint, last bigint, n bigint"


def _make_session_fn(gap_seconds: int):
    def close_sessions(key, pdf_iter, state: GroupState):
        import numpy as np

        # vectorized (r14, guide §4.2): the former per-EVENT Python loop
        # ran once per (user × micro-batch) call — with thousands of keys
        # per batch the interpreter loop plus pandas sort dominated the
        # drain.  Same semantics, in numpy: sort by ts, flag session
        # starts where the floor-second gap to the previous event (or
        # the carried open session) exceeds the threshold, emit every
        # segment but the last, carry the last.
        chunks = list(pdf_iter)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        ts = np.sort(pdf["ts"].to_numpy("datetime64[ns]").astype("int64"))
        # floor-second epochs (portable: DuckDB floor(epoch(ts)))
        secs = ts // 1_000_000_000
        if state.exists:
            c_start, c_last, c_n = state.get
        else:
            c_start = c_last = None
            c_n = 0
        n_ev = len(secs)
        if n_ev == 0:
            state.update((c_start, c_last, c_n))
            return
        closed: list[tuple[int, int, int, int]] = []
        uid = int(key[0])
        new_seg = np.empty(n_ev, dtype=bool)
        new_seg[0] = True
        np.greater(secs[1:] - secs[:-1], gap_seconds, out=new_seg[1:])
        carried_into_first = (
            c_start is not None and int(secs[0]) - c_last <= gap_seconds
        )
        if c_start is not None and not carried_into_first:
            closed.append((uid, int(c_start), int(c_last), int(c_n)))
        bounds = np.flatnonzero(new_seg)  # always starts with 0
        ends = np.append(bounds[1:], n_ev)
        seg_start = secs[bounds].astype(object)
        seg_last = secs[ends - 1]
        seg_n = (ends - bounds).astype(object)
        if carried_into_first:
            seg_start[0] = c_start
            seg_n[0] = c_n + seg_n[0]
        for k in range(len(bounds) - 1):
            closed.append(
                (uid, int(seg_start[k]), int(seg_last[k]), int(seg_n[k]))
            )
        state.update((int(seg_start[-1]), int(seg_last[-1]), int(seg_n[-1])))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return close_sessions


def sessionize_stream(
    spark: SparkSession,
    input_path: str,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    schema: StructType | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain the file backlog under ``input_path`` through stateful
    sessionization and return the CLOSED sessions as a DataFrame.

    Columns: (user_id, session_start, session_end, n_events) with epoch-
    second bounds.  Each user's trailing session remains open in state
    and is not emitted — the oracle twin must exclude each user's last
    session.
    """
    sessions = (
        source(spark, input_path, schema)
        .select(F.col(user_col).alias("user_id"), "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(gap_seconds),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    # stateful cost scales with partition count (one Python worker + one
    # state-store instance per partition per batch) — size to the key
    # cardinality, not the session default (32 is far too many for small
    # key spaces; at true scale RAISE it so state shards fit in memory)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return drain_to_memory(sessions)
    finally:
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming exact dedup: drain the file backlog keeping one row per
    distinct content fingerprint, and return the distinct-doc count.

    ``dropDuplicates`` on the 62-bit content fingerprint keeps state of
    one fingerprint per distinct doc.  Without a timestamp the state
    grows with corpus cardinality (fine for bounded drains); pass
    ``ts_col`` to switch to ``dropDuplicatesWithinWatermark`` so state
    ages out for continuous ingestion.
    """
    from ..functions.text import fingerprint62

    fp = source(spark, input_path, schema).select(
        F.col(id_col), fingerprint62(text_col).alias("fp"),
        *( [F.col(ts_col)] if ts_col else [] ),
    )
    if ts_col:
        fp = fp.withWatermark(ts_col, watermark_delay)
        distinct = fp.dropDuplicatesWithinWatermark(["fp"])
    else:
        distinct = fp.dropDuplicates(["fp"])
    counted = distinct.groupBy().agg(F.count(F.lit(1)).alias("n_unique_docs"))

    return drain_to_memory(counted, "complete")


def bloom_screen_stream(
    spark: SparkSession,
    input_path: str,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = None,
    k: int = None,
    self_screen: bool = False,
    max_files_per_trigger: int | None = None,
    within_batch: bool = False,
    mask_mode: str = "auto",
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming Bloom screen: flag every incoming doc against the
    STATIC corpus Bloom filter, map-only.

    The filter is built once from the corpus (``dedup.bloom_build``),
    collected as a bitmask of ``m`` bits (m/64 longs), and probed by
    each micro-batch row's k bit positions with shifts and masks.  Two
    bit-identical mask shipping paths (``mask_mode``):

    - ``"literal"``: the mask is compiled INTO the stream's projection
      as an ``F.array`` of long literals — whole-stage-codegen
      probing, zero Python.  Right for small m (default 512 longs),
      but an m big enough for a petabyte-corpus FPR (~10^10 bits)
      would put ~10^8 literals in the plan and blow serialization.
    - ``"broadcast"``: the mask ships ONCE per executor as a broadcast
      numpy uint64 array and each batch probes it in one Arrow
      ``mapInPandas`` stage (vectorized gather+shift over the whole
      batch — still map-only, no shuffle, no state).  This is the
      at-scale path: broadcast size is m/8 bytes (a 10^10-bit mask is
      1.25 GB — executor-memory scale, never plan scale).
    - ``"auto"`` (default): literal while ``m <=
      constants.BLOOM_LITERAL_MAX_BITS`` (2^20), broadcast above.

    No stream-static join, no shuffle, no state — the production
    front-door shape for continuous ingestion, where the corpus itself
    (possibly petabytes) never meets the stream.  False-positive rate
    is the standard Bloom bound; false negatives are impossible.

    ``self_screen=True``: each batch's ACCEPTED (un-flagged) docs fold
    their fingerprint bits into the driver-held bitmask inside
    ``foreachBatch``, so batch N probes corpus + accepted batches < N —
    an exact re-post arriving two batches after its accepted original
    is flagged within the same drain (the Bloom member of the
    self-screen family; state stays the SAME m bits regardless of how
    much is accepted, the cheapest self-screen state of all).  Exact
    dups INSIDE one micro-batch still both pass (per-batch
    granularity) unless ``within_batch=True``.

    ``within_batch=True`` (requires ``self_screen``) closes even the
    intra-batch window: a doc is ALSO flagged when an identical
    fingerprint appears at a LOWER ``id_col`` in the same micro-batch
    (keep-first-by-id — exact-dup semantics have no chain problem, so
    the sequential order is fully replayable by a window function; the
    near-dup screens can't offer this because chained acceptance is
    order-recursive).  One (fp)-keyed window per batch; accepted = the
    first occurrence of each novel fingerprint only.

    Returns (id, maybe_dup) for every streamed doc (append mode).
    """
    from ..functions.constants import BLOOM_LITERAL_MAX_BITS, BLOOM_M
    from ..functions.dedup import bloom_bit_positions, bloom_build
    from ..functions.text import fingerprint62

    if within_batch and not self_screen:
        raise ValueError(
            "bloom_screen_stream: within_batch=True refines the "
            "self-screen's acceptance and needs self_screen=True"
        )
    if mask_mode not in ("auto", "literal", "broadcast"):
        raise ValueError(
            "bloom_screen_stream: mask_mode must be one of "
            "'auto'/'literal'/'broadcast'"
        )
    m = m or BLOOM_M
    use_broadcast = mask_mode == "broadcast" or (
        mask_mode == "auto" and m > BLOOM_LITERAL_MAX_BITS
    )
    words = [0] * ((m + 63) // 64)
    for r in bloom_build(corpus_df, text_col, m, k).collect():  # <= m tiny rows
        words[r.bit >> 6] |= 1 << (r.bit & 63)

    def _mask_literal():
        # one F.expr parse instead of m/64 (=512 at the default m) py4j
        # F.lit round-trips — the literal path re-renders PER BATCH
        # (the mask mutates between batches under self_screen), so the
        # construction cost is on the drain's critical path.  Values
        # are bit-identical: SQL `...L` long literals.
        return F.expr(
            "array("
            + ",".join(
                f"{w - (1 << 64) if w >= 1 << 63 else w}L" for w in words
            )
            + ")"
        )

    stream = source(spark, input_path, schema, max_files_per_trigger)
    id_type = stream.schema[id_col].dataType.simpleString()
    text_type = stream.schema[text_col].dataType.simpleString()
    pos = bloom_bit_positions(fingerprint62(text_col), m, k)

    def _flag_literal(df):
        mask = _mask_literal()
        return df.select(
            F.col(id_col),
            F.col(text_col),
            F.forall(
                pos,
                lambda p: (
                    F.call_function(
                        "shiftright",
                        F.element_at(mask, (p / 64).cast("int") + 1),
                        (p % 64).cast("int"),
                    ).bitwiseAND(F.lit(1).cast("long"))
                    == 1
                ),
            ).alias("maybe_dup"),
        )

    def _flag_broadcast(df, held):
        # mask snapshot ships ONCE per executor; the probe is a single
        # vectorized numpy gather+shift over each Arrow batch — same
        # map-only shape as the literal path, no shuffle, no state
        import numpy as np

        bc = held.broadcast(
            df.sparkSession,
            np.array([w & ((1 << 64) - 1) for w in words], dtype=np.uint64),
        )

        def _probe(batches):
            import numpy as _np
            import pandas as _pd

            mask = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                P = _np.stack(pdf["__pos"].to_numpy()).astype(_np.int64)
                bits = (
                    mask[P >> 6] >> (P & 63).astype(_np.uint64)
                ) & _np.uint64(1)
                yield _pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        text_col: pdf[text_col],
                        "maybe_dup": bits.all(axis=1),
                    }
                )

        return df.select(
            F.col(id_col), F.col(text_col), pos.alias("__pos")
        ).mapInPandas(
            _probe,
            schema=(
                f"{id_col} {id_type}, {text_col} {text_type}, "
                "maybe_dup boolean"
            ),
        )

    def _flag(df, held):
        return _flag_broadcast(df, held) if use_broadcast else _flag_literal(df)

    if not self_screen:
        # the memory sink holds plain rows once drained: the
        # executor-side mask copies go with the drain
        with Held() as held:
            return drain_to_memory(_flag(stream, held).select(id_col, "maybe_dup"))

    out = BatchDirs("bloom_self")

    def _screen(batch_df, batch_id: int) -> None:
        # snapshot the CURRENT mask into this batch's probe (the mask
        # mutates between batches, so the broadcast path re-broadcasts
        # the m/8-byte snapshot per batch — still executor-memory
        # scale, never plan scale)
        with Held() as held:
            flagged = _flag(batch_df, held)
            if within_batch:
                # keep-first-by-id: an identical fingerprint at a lower id
                # in THIS batch also flags (and only first occurrences of
                # novel fingerprints fold into the mask below)
                from pyspark.sql.window import Window as _W

                wfp = _W.partitionBy("__fp").orderBy(F.col(id_col).asc())
                flagged = (
                    flagged.withColumn(
                        "__fp", fingerprint62(text_col)
                    )
                    .withColumn("__rn", F.row_number().over(wfp))
                    .withColumn(
                        "maybe_dup",
                        F.col("maybe_dup") | (F.col("__rn") > 1),
                    )
                    .drop("__rn", "__fp")
                )
            flagged = held.persist(flagged)
            out.write(flagged.select(id_col, "maybe_dup"), batch_id)
            accepted_bits = (
                flagged.where(~F.col("maybe_dup"))
                .select(
                    F.explode(
                        bloom_bit_positions(
                            fingerprint62(text_col), m, k
                        )
                    ).alias("bit")
                )
                .distinct()
                .collect()  # <= m tiny rows, bounded regardless of batch size
            )
        for r in accepted_bits:
            words[r.bit >> 6] |= 1 << (r.bit & 63)

    drain(stream, _screen)
    return out.read(spark, f"{id_col} {id_type}, maybe_dup boolean").select(
        id_col, "maybe_dup"
    )


def minhash_screen_stream(
    spark: SparkSession,
    input_path: str,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = None,
    max_files_per_trigger: int | None = None,
    index_path: str | None = None,
    self_screen: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming NEAR-dup screen: each micro-batch's MinHash bands join
    the corpus banding relation, with exact-Jaccard verification —
    the LSH complement of ``bloom_screen_stream`` (that one catches
    exact dups; this one catches near-dups).

    Two corpus-side modes (mirroring ``containment_screen_stream``):

    - ``index_path``: read the PERSISTED (id, sh, band, bh) banding
      relation built by ``dedup.build_minhash_index`` — the at-scale
      shape: the drain touches corpus text nowhere and pays no
      re-shingling/re-signing; maintain with ``update_minhash_index``.
    - ``corpus_df``: compute the banding relation from corpus text at
      drain start, ONCE, persisted for the drain (bootstrap path).

    Pairs append per batch to a result directory (idempotent layout:
    one subdir per batch id).  Returns (batch_id, corpus_id, jaccard)
    across the whole drain.

    ``self_screen=True`` (requires ``index_path``): each batch's
    ACCEPTED docs' banding rows append to the index inside
    ``foreachBatch`` (``update_minhash_index``), so batch N screens
    against corpus + accepted batches < N — two near-dup docs arriving
    in different batches of one drain no longer both pass
    (``incremental_exact_dedup`` semantics; twins INSIDE one
    micro-batch still both pass).  A failed-and-re-run batch may append
    its banding rows twice; duplicate rows only duplicate candidates,
    which the verifier deduplicates — emitted pairs are unchanged.
    """
    from ..functions.constants import MINHASH_JACCARD_THRESHOLD
    from ..functions.dedup import (
        _banded,
        minhash_incremental_pairs,
        update_minhash_index,
    )

    if (corpus_df is None) == (index_path is None):
        raise ValueError(
            "minhash_screen_stream: pass exactly one of corpus_df "
            "(rebuild per drain) or index_path (persisted index)"
        )
    if self_screen and index_path is None:
        raise ValueError(
            "minhash_screen_stream: self_screen=True appends accepted "
            "batches to the index and needs index_path"
        )
    threshold = threshold or MINHASH_JACCARD_THRESHOLD
    out = BatchDirs("mh_screen")
    with Held() as drain_held:
        idx_schema = None
        if index_path is not None:
            # schema captured once: self_screen re-lists the index every
            # batch and the pinned schema skips per-batch footer reads
            idx_schema = spark.read.parquet(index_path).schema
            banded = spark.read.schema(idx_schema).parquet(index_path)
            id_type = banded.schema["id"].dataType.simpleString()
        else:
            banded = drain_held.persist(_banded(corpus_df, text_col, id_col))
            banded.count()  # materialize once, not per micro-batch
            id_type = corpus_df.schema[id_col].dataType.simpleString()

        def _screen(batch_df, batch_id: int) -> None:
            corpus_banded = (
                # fresh file listing per batch: prior accepted batches'
                # banding rows are new index files invisible to the
                # drain-start plan (pinned schema: skip the footer re-read)
                batch_df.sparkSession.read.schema(idx_schema).parquet(index_path)
                if self_screen
                else banded
            )
            pairs = minhash_incremental_pairs(
                batch_df, corpus_df, text_col, id_col, threshold,
                corpus_banded=corpus_banded,
            )
            with Held() as held:
                if self_screen:
                    pairs = held.persist(pairs)
                out.write(pairs, batch_id)
                if self_screen:
                    # the write above materialized the persisted pairs:
                    # deriving the flagged ids from the cache replaces the
                    # former read-back of the just-written parquet
                    # (listing + scan per batch for identical rows, r15)
                    flagged = pairs.select(
                        F.col("batch_id").alias(id_col)
                    ).distinct()
                    accepted = batch_df.join(flagged, on=id_col, how="left_anti")
                    update_minhash_index(accepted, index_path, text_col, id_col)

        drain(source(spark, input_path, schema, max_files_per_trigger), _screen)
    return out.read(
        spark, f"batch_id long, corpus_id {id_type}, jaccard double"
    ).select("batch_id", "corpus_id", "jaccard")


def kmv_stream(
    spark: SparkSession,
    input_path: str,
    text_col: str = "text",
    k: int = 256,
    shingle: int = 3,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming KMV cardinality: maintain the k smallest distinct
    shingle fingerprints across micro-batches.

    KMV is MERGEABLE — the k smallest hashes of a union are the k
    smallest of each side's k smallest — so each micro-batch computes
    its own bounded top-k (TakeOrderedAndProject inside the batch) and
    the driver min-merges ≤ k values into the running state.  State is
    k longs no matter how much data streams past; the merge is a set
    minimum, so an at-least-once batch REPLAY is a no-op (idempotent
    by algebra, no partition bookkeeping needed).  The drained
    estimate provably equals the one-shot batch sketch over the same
    data (pinned in TestKmvStream; st_kmv_distinct oracle-verifies it).

    Returns one row (k_used, kth_min_hash, est_distinct) — the same
    arithmetic as ``sketches.kmv_distinct``.
    """
    from ..functions.sketches import kmv_estimate, shingle_fingerprints

    state: set[int] = set()

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        mins = (
            shingle_fingerprints(batch_df, text_col, shingle)
            .distinct()
            .orderBy("hv")
            .limit(k)
            .collect()
        )
        state.update(r.hv for r in mins)
        if len(state) > k:
            for h in sorted(state)[k:]:
                state.discard(h)

    drain(source(spark, input_path, schema, max_files_per_trigger), _merge)

    agg = spark.createDataFrame(
        [(len(state), max(state) if state else None)],
        "k_used long, kth_min_hash long",
    )
    return kmv_estimate(agg, k)


def weighted_sample_stream(
    spark: SparkSession,
    input_path: str,
    n: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    cols: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming deterministic weighted priority sample: maintain the
    ``n`` rows with the smallest ``hash(id)/weight`` priority keys
    across micro-batches — ``sampling.weighted_sample_n`` over an
    unbounded stream with bounded state.

    Priority sampling is MERGEABLE exactly like KMV: the n smallest
    keys of a union are the n smallest of each side's n smallest, so
    each micro-batch computes its own bounded top-n
    (TakeOrderedAndProject inside the batch) and the driver min-merges
    ≤ n rows into the running reservoir.  State is n rows no matter
    how much data streams past; the merge keys rows by ``id_col``, so
    an at-least-once batch REPLAY is a no-op (idempotent by set
    algebra).  The drained sample provably equals the one-shot batch
    sample over the same data (pinned in TestWeightedSampleStream;
    ``st_weighted_sample`` oracle-verifies it).

    Returns the sampled rows (``cols``, default: all input columns)
    with ``sample_rank`` 1..n in priority order — the
    ``weighted_sample_n`` output contract.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.text import char_poly_hash

    stream = source(spark, input_path, schema, max_files_per_trigger)
    if schema is None:
        schema = stream.schema
    cols = cols or [f.name for f in schema.fields]
    if id_col not in cols:
        raise ValueError(
            f"weighted_sample_stream: id_col {id_col!r} must be in cols "
            "(the reservoir merges rows by id)"
        )
    missing = [c for c in cols if c not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"weighted_sample_stream: unknown cols {missing}")

    state: dict = {}  # id -> (priority_key, row tuple)

    def _prune() -> None:
        if len(state) > n:
            keep = sorted(state.items(), key=lambda kv: (kv[1][0], kv[0]))[:n]
            state.clear()
            state.update(keep)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        key = char_poly_hash(F.col(id_col).cast("string")).cast(
            "double"
        ) / F.col(weight_col).cast("double")
        top = (
            batch_df.where(F.col(weight_col) > 0)
            .select(*cols, key.alias("__k"))
            .orderBy("__k", id_col)
            .limit(n)
            .collect()
        )
        for r in top:
            state[r[id_col]] = (r["__k"], tuple(r[c] for c in cols))
        _prune()

    drain(stream, _merge)

    ordered = sorted(state.items(), key=lambda kv: (kv[1][0], kv[0]))
    data = [kv[1][1] + (i + 1,) for i, kv in enumerate(ordered)]
    # schema fields in CALLER-SUPPLIED cols order — the data tuples are
    # built in that order, and matching by file order would silently
    # swap values between same-typed columns (ADVICE r6)
    by_name = {f.name: f for f in schema.fields}
    out_schema = StructType(
        [by_name[c] for c in cols]
        + [StructField("sample_rank", LongType(), False)]
    )
    return spark.createDataFrame(data, out_schema)


def signature_screen_stream(
    spark: SparkSession,
    input_path: str,
    sig_fn,
    index_path: str,
    sig_col: str = "sig",
    max_hamming: int = 4,
    max_files_per_trigger: int | None = None,
    self_screen: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming PERCEPTUAL near-dup screen: each micro-batch of binary
    payloads (images, audio clips — any modality with a 62-bit
    signature function) is signatured inside Arrow workers
    (``sig_fn``: e.g. ``multimodal.image_ahash`` /
    ``multimodal.audio_fingerprint``) and banded-hamming-joined against
    a PERSISTED corpus signature index — the multimodal member of the
    ingest-screen family (exact / Bloom / MinHash / containment /
    this).

    The index at ``index_path`` is a tiny (id, <sig_col>) parquet
    relation — ONE long per corpus item, the cheapest corpus state of
    any screen here — written by signaturing the corpus once and
    appended per accepted batch (the ivf/containment index-maintenance
    pattern).  Each drain reads signatures only: corpus payload BYTES
    are never re-decoded, by construction.  Per-batch results land in
    idempotent per-batch-id dirs.  Returns (batch_id, corpus_id,
    hamming) across the whole drain.

    ``self_screen=False`` (default): screens are per-item independent
    against the index as it stood at drain start — the drained union
    equals the one-shot screen, but two near-dup items arriving in
    DIFFERENT batches of the same drain both pass (the caller appends
    accepted signatures afterwards).  ``self_screen=True`` closes that
    window: each batch's ACCEPTED (un-flagged) signatures append to
    the index inside ``foreachBatch``, so batch N screens against
    corpus + accepted batches < N — ``incremental_exact_dedup``
    semantics, with per-batch granularity (twins INSIDE one micro-batch
    still both pass; ``max_files_per_trigger=1`` narrows the window to
    one file).  A failed-and-re-run batch may append its signatures
    twice; duplicate index rows cost re-screen work but never change
    which pairs are emitted (hamming pairs are per-id, deduplicated).
    """
    from ..functions.dedup import hash_hamming_incremental_pairs

    idx_schema = spark.read.parquet(index_path).schema
    inv = spark.read.schema(idx_schema).parquet(index_path).select("id", sig_col)
    out = BatchDirs("sig_screen")

    def _screen(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        corpus_sigs = (
            # fresh file listing per batch: prior batches' accepted
            # signatures are new index files invisible to the
            # drain-start plan (pinned schema: skip the footer re-read)
            sess.read.schema(idx_schema).parquet(index_path).select(
                "id", sig_col
            )
            if self_screen
            else inv
        )
        with Held() as held:
            # persist: sigs feeds BOTH the pair write and (self_screen) the
            # accepted-append anti-join — without it sig_fn re-decodes
            # every payload a second time per micro-batch (ADVICE r9)
            sigs = held.persist(sig_fn(batch_df).select("id", sig_col))
            pairs = hash_hamming_incremental_pairs(
                sigs, corpus_sigs, id_col="id", hash_col=sig_col,
                max_hamming=max_hamming,
            )
            if self_screen:
                pairs = held.persist(pairs)
            out.write(pairs, batch_id)
            if self_screen:
                # the write above materialized the persisted pairs:
                # deriving the flagged ids from the cache replaces the
                # former read-back of the just-written parquet (listing
                # + scan per batch for identical rows, r15)
                flagged = pairs.select(F.col("batch_id").alias("id")).distinct()
                sigs.join(flagged, on="id", how="left_anti").write.mode(
                    "append"
                ).parquet(index_path)

    drain(source(spark, input_path, schema, max_files_per_trigger), _screen)
    return out.read(
        spark, "batch_id long, corpus_id long, hamming long"
    ).select("batch_id", "corpus_id", "hamming")


def containment_screen_stream(
    spark: SparkSession,
    input_path: str,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    max_files_per_trigger: int | None = None,
    index_path: str | None = None,
    self_screen: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming containment screen: each micro-batch of incoming docs
    is checked for being mostly CONTAINED in an existing corpus doc
    (re-posts/quotes of already-held content) — the asymmetric
    complement of ``minhash_screen_stream`` (that one catches
    near-dups; symmetric Jaccard misses a small doc wrapped in a big
    one).

    ``self_screen=True`` (requires ``index_path``): each batch's
    ACCEPTED docs' shingles append to the inverted index inside
    ``foreachBatch`` (``update_containment_index``), so batch N screens
    against corpus + accepted batches < N — a re-post arriving two
    batches after its accepted original is caught within the same
    drain (``incremental_exact_dedup`` semantics; containment INSIDE
    one micro-batch still passes).  A failed-and-re-run batch may
    append its shingles twice; the screen counts DISTINCT matched
    shingles per (batch, corpus) pair, so duplicate index rows cost
    re-screen work but never change any containment score —
    idempotent under at-least-once index maintenance.

    Two corpus-side modes:

    - ``index_path``: read the PERSISTED (cid, h) inverted index built
      by ``dedup.build_containment_index`` — the at-scale shape.  The
      drain touches corpus TEXT nowhere (by construction: no corpus
      frame is even passed), pays no shingling, and each batch's join
      column-prunes the index scan to two columns.  Maintain the index
      with ``update_containment_index`` per accepted batch.
    - ``corpus_df``: rebuild the index from corpus text at drain start,
      computed ONCE and persisted for the drain (the bootstrap /
      small-corpus path; one full-corpus explode per ingest session).

    Per-batch results land in idempotent per-batch-id dirs.  Returns
    (batch_id, corpus_id, containment) across the whole drain; screens
    are per-doc independent, so the drained union provably equals the
    one-shot batch screen.
    """
    from ..functions.constants import CONTAINMENT_THRESHOLD
    from ..functions.dedup import (
        containment_incremental_pairs,
        shingle_hash_array,
        update_containment_index,
    )

    if (corpus_df is None) == (index_path is None):
        raise ValueError(
            "containment_screen_stream: pass exactly one of corpus_df "
            "(rebuild per drain) or index_path (persisted index)"
        )
    if self_screen and index_path is None:
        raise ValueError(
            "containment_screen_stream: self_screen=True appends "
            "accepted batches to the index and needs index_path"
        )
    threshold = threshold if threshold is not None else CONTAINMENT_THRESHOLD
    out = BatchDirs("cont_screen")
    with Held() as held:
        idx_schema = None
        if index_path is not None:
            # corpus-scale relation: leave it on disk (column-pruned scan
            # per batch), don't pin it in executor storage.  Capture the
            # file schema ONCE: self_screen re-lists the index every
            # batch, and passing the schema skips a per-batch footer read
            # (the index appends never change its columns).
            idx_schema = spark.read.parquet(index_path).schema
            inv = (
                spark.read.schema(idx_schema)
                .parquet(index_path)
                .select("cid", "h")
            )
            id_type = inv.schema["cid"].dataType.simpleString()
        else:
            inv = held.persist(
                corpus_df.select(
                    F.col(id_col).alias("cid"),
                    F.explode(shingle_hash_array(text_col)).alias("h"),
                )
            )
            inv.count()  # materialize once, not per micro-batch
            id_type = corpus_df.schema[id_col].dataType.simpleString()

        def _screen(batch_df, batch_id: int) -> None:
            corpus_inv = (
                # fresh file listing per batch: prior accepted batches'
                # shingles are new index files invisible to the
                # drain-start plan (pinned schema: skip the footer re-read)
                batch_df.sparkSession.read.schema(idx_schema)
                .parquet(index_path)
                .select("cid", "h")
                if self_screen
                else inv
            )
            pairs = containment_incremental_pairs(
                batch_df, corpus_df, text_col, id_col, threshold,
                corpus_inverted=corpus_inv,
            )
            out.write(pairs, batch_id)
            if self_screen:
                # pairs is already eagerly materialized (localCheckpoint
                # inside containment_incremental_pairs): deriving the
                # flagged ids from it reads the checkpoint blocks — the
                # former read-back of the just-written parquet paid a
                # listing + scan per batch for identical rows (r15)
                flagged = pairs.select(F.col("batch_id").alias(id_col)).distinct()
                accepted = batch_df.join(flagged, on=id_col, how="left_anti")
                update_containment_index(accepted, index_path, text_col, id_col)

        drain(source(spark, input_path, schema, max_files_per_trigger), _screen)
    return out.read(
        spark, f"batch_id long, corpus_id {id_type}, containment double"
    ).select("batch_id", "corpus_id", "containment")


def build_semantic_index(
    df: DataFrame,
    index_path: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the corpus side of ``semantic_screen_stream``: one
    (id, cell, u) row per corpus vector — IVF cell via broadcast-argmax
    assignment (``similarity.ivf_assign``), ``u`` the unit-normalized
    vector.  Written partitioned BY CELL, so each batch's screen join
    partition-prunes the index scan to exactly the cells the batch
    occupies — at 100 TB the per-drain corpus read is O(occupied
    cells), never O(index).  Maintain per accepted batch by appending
    (the screen's ``self_screen`` mode does this automatically)."""
    from pyspark.sql import functions as F

    from ..functions.constants import SEMDEDUP_CENTROIDS
    from ..functions.similarity import as_double, ivf_assign, norm

    centroids = centroids if centroids is not None else SEMDEDUP_CENTROIDS
    base = ivf_assign(df, centroids, vec_col=vec_col, out_col="cell").select(
        "cell",
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
    ).withColumn("nrm", norm(F.col("v")))
    base.select(
        "cell", "id", F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    ).write.mode("overwrite").partitionBy("cell").parquet(index_path)


def semantic_screen_stream(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
    max_files_per_trigger: int | None = None,
    self_screen: bool = False,
    schema: StructType | None = None,
) -> DataFrame:
    """Streaming EMBEDDING-based near-dup screen (round 14, VERDICT r13
    #8 — completes the screen matrix: exact / Bloom / MinHash /
    containment / perceptual-hash / this): each micro-batch of vectors
    is IVF-assigned against a STATIC centroid list (broadcast argmax,
    map-only) and cosine-compared ONLY against the persisted corpus
    index rows of the SAME cell — the SemDeDup cell-scoping applied to
    ingest.

    Bounded state by construction: the centroid list is a constant
    (len(centroids) rows), the corpus index lives on disk (read
    per-drain, partition-pruned to the batch's occupied cells), and
    per-batch work is the cell-scoped join — no stream-side state store
    at all.  Acceptance volume never grows executor state; it grows the
    on-disk index, exactly like every other indexed screen here.

    ``self_screen=True``: each batch's ACCEPTED (un-flagged) vectors
    append to the index inside ``foreachBatch``, so batch N screens
    against corpus + accepted batches < N (twins INSIDE one micro-batch
    both pass; ``max_files_per_trigger=1`` narrows the window).  A
    failed-and-re-run batch may append twice; duplicate index rows cost
    re-screen work but never change which pairs are emitted.

    Per-batch results land in idempotent per-batch-id dirs.  Returns
    (batch_id, corpus_id, cos_sim) across the whole drain —
    ``batch_id`` is the batch ITEM's id (the screen-family convention).
    """
    from ..functions.constants import SEMDEDUP_CENTROIDS, SEMDEDUP_THRESHOLD
    from ..functions.similarity import as_double, dot, ivf_assign, norm

    centroids = centroids if centroids is not None else SEMDEDUP_CENTROIDS
    threshold = threshold if threshold is not None else SEMDEDUP_THRESHOLD
    # schema captured once: self_screen re-lists the index every batch
    # and the pinned schema skips per-batch footer reads
    idx_schema = spark.read.parquet(index_path).schema
    inv = spark.read.schema(idx_schema).parquet(index_path).select(
        F.col("id").alias("corpus_id"), "cell", F.col("u").alias("cu")
    )

    out = BatchDirs("sem_screen")

    def _screen(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        corpus = (
            # fresh file listing per batch: prior batches' accepted
            # vectors are new index files invisible to drain-start plans
            # (pinned schema: skip the footer re-read)
            sess.read.schema(idx_schema).parquet(index_path).select(
                F.col("id").alias("corpus_id"), "cell", F.col("u").alias("cu")
            )
            if self_screen
            else inv
        )
        base = ivf_assign(
            batch_df, centroids, vec_col=vec_col, out_col="cell"
        ).select(
            "cell",
            F.col(id_col).alias("id"),
            as_double(F.col(vec_col)).alias("v"),
        ).withColumn("nrm", norm(F.col("v")))
        with Held() as held:
            unit = held.persist(
                base.select(
                    "cell",
                    "id",
                    F.transform("v", lambda x: x / F.col("nrm")).alias("u"),
                )
            )
            pairs = (
                unit.join(corpus, on="cell")
                .select(
                    F.col("id").alias("batch_id"),
                    "corpus_id",
                    F.round(dot(F.col("u"), F.col("cu")), 4).alias("cos_sim"),
                )
                .where(F.col("cos_sim") >= F.lit(threshold))
            )
            if self_screen:
                pairs = held.persist(pairs)
            out.write(pairs, batch_id)
            if self_screen:
                # the write above materialized the persisted pairs:
                # deriving the flagged ids from the cache replaces the
                # former read-back of the just-written parquet (listing
                # + scan per batch for identical rows, r15)
                flagged = pairs.select(F.col("batch_id").alias("id")).distinct()
                unit.join(flagged, on="id", how="left_anti").select(
                    "cell", "id", "u"
                ).write.mode("append").partitionBy("cell").parquet(index_path)

    drain(source(spark, input_path, schema, max_files_per_trigger), _screen)
    return out.read(
        spark, "batch_id long, corpus_id long, cos_sim double"
    ).select("batch_id", "corpus_id", "cos_sim")
