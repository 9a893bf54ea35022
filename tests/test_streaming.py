"""Tests for the Structured-Streaming extension layer (windows, sessions).

Incremental load is covered in test_operators.py; these cover the
watermarked window aggregation and the stateful sessionizer, including
the cross-micro-batch state carry that the oracle harness (single
batch) cannot exercise.
"""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest

from astro_spark.streaming import (
    dedup_stream,
    late_data_windowed_counts,
    sessionize_stream,
    windowed_counts_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark):
    """Tiny 2-user event log staged as TWO parquet files so multi-batch
    runs (maxFilesPerTrigger=1) split the data mid-session."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions (gap 3600s between e2 and e3), then open tail
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=600), 1, "a", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=600 + 3600 + 1), 1, "a", 1.0, "{}"),
        (4, base + dt.timedelta(seconds=600 + 3600 + 2), 1, "a", 1.0, "{}"),
        # user 2: one long session only (never closed)
        (5, base, 2, "b", 1.0, "{}"),
        (6, base + dt.timedelta(seconds=100), 2, "b", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tempfile.mkdtemp(prefix="astro_test_events_")
    df.repartition(2).write.mode("overwrite").parquet(d)
    return d


class TestWindowedCounts:
    def test_complete_mode_counts_everything(self, spark, events_dir):
        out = windowed_counts_stream(spark, events_dir).collect()
        assert sum(r.n_events for r in out) == 6
        hours = {r.hour for r in out}
        assert "2024-01-01 00" in hours and "2024-01-01 01" in hours

    def test_multi_batch_same_result(self, spark, events_dir):
        one = windowed_counts_stream(spark, events_dir, max_files_per_trigger=1)
        assert sorted(map(tuple, one.collect())) == sorted(
            map(tuple, windowed_counts_stream(spark, events_dir).collect())
        )

    def test_explicit_schema_matches_inferred(self, spark, events_dir):
        """schema= skips the per-drain batch-read inference (one driver
        listing+footer job per stream construction); the result must be
        identical to the inferred-schema drain."""
        inferred = windowed_counts_stream(spark, events_dir)
        explicit = windowed_counts_stream(
            spark, events_dir, schema=spark.read.parquet(events_dir).schema
        )
        assert sorted(map(tuple, explicit.collect())) == sorted(
            map(tuple, inferred.collect())
        )


class TestLateData:
    def test_stragglers_dropped_open_windows_withheld(self, spark):
        """Append-mode watermark contract: a straggler whose window the
        watermark closed is dropped; windows newer than the final
        watermark are never emitted.  Eviction lags one batch, hence the
        fresh middle batch."""
        import os

        base = dt.datetime(2024, 1, 1, 0, 0, 0)

        def _df(rows):
            return spark.createDataFrame(rows, "event_id long, ts timestamp")

        d = tempfile.mkdtemp(prefix="astro_test_late_")

        def _stage(df, name, mtime):
            tmp = tempfile.mkdtemp()
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
            os.rename(os.path.join(tmp, part), os.path.join(d, name))
            os.utime(os.path.join(d, name), (mtime, mtime))

        # batch 1: two on-time rows in hour 0
        _stage(_df([(1, base), (2, base + dt.timedelta(minutes=10))]),
               "00_on_time.parquet", 1_000_000)
        # batch 2: fresh row at hour 6 — advances the max event time
        _stage(_df([(3, base + dt.timedelta(hours=6))]),
               "01_fresh.parquet", 2_000_000)
        # batch 3: another fresh row — the 04:00 watermark from batch 2's
        # data is now ACTIVE (filtering lags the announced watermark by
        # one batch) and hour 0 is evicted
        _stage(_df([(5, base + dt.timedelta(hours=6, minutes=30))]),
               "02_fresh.parquet", 3_000_000)
        # batch 4: straggler back in hour 0 — dropped by the watermark
        _stage(_df([(4, base + dt.timedelta(minutes=30))]),
               "03_straggler.parquet", 4_000_000)
        out = {r.hour: r.n_events
               for r in late_data_windowed_counts(spark, d).collect()}
        # hour 0 closed with ONLY the on-time rows; hour 6 is newer than
        # the final watermark (07:00 end > 04:30) so it is withheld
        assert out == {"2024-01-01 00": 2}


class TestSessionize:
    def test_closed_sessions_only(self, spark, events_dir):
        out = sessionize_stream(spark, events_dir).collect()
        # user 1's first session closes (2 events); user 1's tail and user
        # 2's only session remain open → exactly one emitted row
        assert len(out) == 1
        r = out[0]
        assert r.user_id == 1 and r.n_events == 2
        assert r.session_end - r.session_start == 600

    def test_state_fn_vectorized_semantics(self):
        """Drive the (r14-vectorized) per-key state function directly
        with a fake GroupState through every carried-state shape: fresh
        key, carried session EXTENDED by the next batch, carried session
        CLOSED by a gap, several sessions inside one batch, unsorted
        arrival with same-second (ts, event_id) ties, and an empty
        batch.  Expectations are hand-computed from the sessionizer
        contract (close on gap > threshold, emit all but the trailing
        open session)."""
        import numpy as np
        import pandas as pd

        from astro_spark.streaming.sessions import _make_session_fn

        class FakeState:
            def __init__(self):
                self._v = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        def batch(rows):  # rows: (event_id, epoch_sec)
            return pd.DataFrame(
                {
                    "event_id": [r[0] for r in rows],
                    "ts": pd.to_datetime(
                        [np.datetime64(r[1], "s") for r in rows]
                    ),
                }
            )

        fn = _make_session_fn(10)
        state = FakeState()

        def drain(b):
            return [
                tuple(t)
                for f in (fn((7,), iter([b]), state) or [])
                for t in f.itertuples(index=False, name=None)
            ]

        # batch 1 (shuffled arrival): sessions [100,105] and [200];
        # the first closes in-batch, [200] stays open
        assert drain(batch([(2, 200), (0, 100), (1, 105)])) == [
            (7, 100, 105, 2)
        ]
        assert state.get == (200, 200, 1)
        # batch 2: 205 extends the carried session (gap 5 <= 10)
        assert drain(batch([(3, 205)])) == []
        assert state.get == (200, 205, 2)
        # batch 3: 300 closes the carried 3-event session, stays open
        assert drain(batch([(4, 300)])) == [(7, 200, 205, 2)]
        assert state.get == (300, 300, 1)
        # same-second tie: order within a second cannot change output
        assert drain(batch([(6, 300), (5, 300)])) == []
        assert state.get == (300, 300, 3)
        # empty batch: state carried unchanged, nothing emitted
        assert drain(batch([])) == []
        assert state.get == (300, 300, 3)

    def test_state_fn_tolerates_null_event_id(self):
        """ADVICE r15: a micro-batch carrying a null (object-dtype)
        event_id must not fail the lexsort tie-break — the fallback
        pandas sort tolerates nulls, and output depends only on ts."""
        import numpy as np
        import pandas as pd

        from astro_spark.streaming.sessions import _make_session_fn

        class FakeState:
            def __init__(self):
                self._v = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        fn = _make_session_fn(10)
        state = FakeState()
        b = pd.DataFrame(
            {
                "event_id": [None, "e1", "e2"],
                "ts": pd.to_datetime(
                    [np.datetime64(s, "s") for s in (100, 105, 200)]
                ),
            }
        )
        closed = [
            tuple(t)
            for f in (fn((7,), iter([b]), state) or [])
            for t in f.itertuples(index=False, name=None)
        ]
        assert closed == [(7, 100, 105, 2)]
        assert state.get == (200, 200, 1)


class TestDedupStream:
    def test_distinct_count(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "bb")],
            "doc_id long, text string",
        )
        d = str(tmp_path / "docs")
        df.repartition(2).write.mode("overwrite").parquet(d)
        out = dedup_stream(spark, d).collect()
        assert out[0].n_unique_docs == 3

    def test_watermarked_flavor_runs(self, spark, events_dir):
        # dropDuplicatesWithinWatermark path: dedup event payload strings
        out = dedup_stream(
            spark, events_dir, text_col="event_type", id_col="event_id", ts_col="ts"
        ).collect()
        assert out[0].n_unique_docs == 2  # event types "a" and "b"


class TestIntervalJoin:
    @pytest.fixture(scope="class")
    def ab_events_dir(self, spark):
        """views and purchases for two users, staged as two files so a
        maxFilesPerTrigger=1 run must match pairs across micro-batches."""
        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        rows = [
            # user 1: view at t0; purchases at +30min (in gap) and +2h (out)
            (1, base, 1, "view", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=30), 1, "purchase", 1.0, "{}"),
            (3, base + dt.timedelta(hours=2), 1, "purchase", 1.0, "{}"),
            # user 2: purchase BEFORE the view — must not match
            (4, base + dt.timedelta(minutes=10), 2, "purchase", 1.0, "{}"),
            (5, base + dt.timedelta(minutes=20), 2, "view", 1.0, "{}"),
            # user 1 second view at +90min: catches the +2h purchase
            (6, base + dt.timedelta(minutes=90), 1, "view", 1.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        d = tempfile.mkdtemp(prefix="astro_test_ij_")
        df.repartition(2).write.mode("overwrite").parquet(d)
        return d

    def test_pairs_within_gap_only(self, spark, ab_events_dir):
        from astro_spark.streaming import interval_join_stream

        out = interval_join_stream(
            spark,
            ab_events_dir,
            "event_type = 'view'",
            "event_type = 'purchase'",
            max_gap="1 hour",
        )
        pairs = {(r.left_event_id, r.right_event_id) for r in out.collect()}
        assert pairs == {(1, 2), (6, 3)}

    def test_multi_batch_same_pairs(self, spark, ab_events_dir):
        from astro_spark.streaming import interval_join_stream

        out = interval_join_stream(
            spark,
            ab_events_dir,
            "event_type = 'view'",
            "event_type = 'purchase'",
            max_gap="1 hour",
            max_files_per_trigger=1,
        )
        pairs = {(r.left_event_id, r.right_event_id) for r in out.collect()}
        assert pairs == {(1, 2), (6, 3)}


class TestStreamStaticJoin:
    def test_enrichment_and_dim_snapshot_per_drain(self, spark, tmp_path):
        """Stream-static join enriches without watermark/state; a second
        drain against an updated dim sees the new snapshot."""
        import os

        import astro_spark as a  # noqa: F401
        from astro_spark.streaming import stream_static_join

        incoming = str(tmp_path / "facts")
        os.makedirs(incoming)
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ).coalesce(1).write.mode("overwrite").parquet(incoming)
        dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, seg string")
        out = stream_static_join(
            spark, incoming, dim, "k", ["k", "seg", "v"]
        )
        got = {(r.k, r.seg) for r in out.collect()}
        assert got == {(1, "a"), (2, "b")}  # k=3 unmatched, inner join

        dim2 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, seg string"
        )
        out2 = stream_static_join(spark, incoming, dim2, "k", ["k", "seg", "v"])
        assert {(r.k, r.seg) for r in out2.collect()} == {
            (1, "a"), (2, "b"), (3, "c")
        }


class TestFanOut:
    def test_multi_sink_single_pass(self, spark, events_dir):
        """Both sinks commit per batch from one source read; partial
        counts re-aggregate to the batch-split-independent totals."""
        from pyspark.sql import functions as F

        from astro_spark.streaming import fan_out_stream

        tables = fan_out_stream(
            spark,
            events_dir,
            sinks={
                "by_user": lambda b: b.groupBy("user_id").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                "raw": lambda b: b.select("event_id"),
            },
            max_files_per_trigger=1,  # two staged files -> two batches
        )
        per_user = {
            r.user_id: r.total
            for r in spark.table(tables["by_user"].name)
            .groupBy("user_id")
            .agg(F.sum("n").alias("total"))
            .collect()
        }
        assert per_user == {1: 4, 2: 2}
        assert spark.table(tables["raw"].name).count() == 6
        # the returned views hide the idempotence machinery
        assert "__batch_id" not in spark.table(tables["raw"].name).columns

    def test_replayed_batch_is_idempotent(self, spark, events_dir):
        """foreachBatch is at-least-once: if sink 2 of 3 fails mid-batch
        the whole batch replays into ALREADY-committed sinks.  The
        per-__batch_id dynamic overwrite makes that rerun converge
        instead of duplicating rows."""
        from pyspark.sql import functions as F

        from astro_spark.streaming import fan_out_stream
        from astro_spark.streaming.load_stream import _write_sink_batch

        tables = fan_out_stream(
            spark,
            events_dir,
            sinks={"raw": lambda b: b.select("event_id", "user_id")},
            max_files_per_trigger=1,
        )
        phys = f"{tables['raw'].name}_t"
        before = sorted(
            r.event_id for r in spark.table(tables["raw"].name).collect()
        )
        # simulate the replay of an already-committed batch: same batch_id,
        # same rows, written again
        batch0 = spark.table(phys).where("__batch_id = 0").drop("__batch_id")
        _write_sink_batch(batch0, phys, 0)
        spark.catalog.refreshTable(phys)
        after = sorted(
            r.event_id for r in spark.table(phys).drop("__batch_id").collect()
        )
        assert after == before  # no duplicates, no loss


class TestStreamMerge:
    def test_cdc_upsert_across_batches(self, spark, tmp_path):
        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.streaming import load_file_stream_merge

        target = a.Table("cdc_target", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string"), target
        )
        incoming = str(tmp_path / "incoming")
        ckpt = str(tmp_path / "ckpt")
        import os

        os.makedirs(incoming)
        spark.createDataFrame([(2, "new"), (3, "new")], "k long, v string") \
            .coalesce(1).write.mode("overwrite").parquet(incoming + "/f1")
        # two separate stream drains with the same checkpoint: second file
        # only processed once it appears
        load_file_stream_merge(
            spark, a.File(incoming + "/f1", filetype="parquet"), target, ["k"],
            checkpoint_dir=ckpt,
        )
        got = {r.k: r.v for r in spark.table(target.name).collect()}
        assert got == {1: "old", 2: "new", 3: "new"}
        spark.createDataFrame([(3, "newer"), (4, "x")], "k long, v string") \
            .coalesce(1).write.mode("append").parquet(incoming + "/f1")
        load_file_stream_merge(
            spark, a.File(incoming + "/f1", filetype="parquet"), target, ["k"],
            checkpoint_dir=ckpt,
        )
        got = {r.k: r.v for r in spark.table(target.name).collect()}
        assert got == {1: "old", 2: "new", 3: "newer", 4: "x"}
        a.drop_table(spark, target)

    def test_cdc_partitioned_target_touches_only_batch_partitions(
        self, spark, tmp_path
    ):
        """A partitioned CDC target takes the partition-scoped merge path:
        partitions outside the micro-batch keep their original files."""
        import os

        import astro_spark as a
        from astro_spark.streaming import load_file_stream_merge

        spark.sql("DROP TABLE IF EXISTS cdc_part_target")
        spark.createDataFrame(
            [(1, "a", "old"), (2, "a", "old"), (3, "b", "old"), (4, "c", "old")],
            "k long, p string, v string",
        ).write.partitionBy("p").format("parquet").saveAsTable("cdc_part_target")
        target = a.Table("cdc_part_target", temp=False)
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED cdc_part_target")
            .where("col_name = 'Location'").collect()[0].data_type
        ).replace("file:", "")
        c_before = sorted(os.listdir(os.path.join(loc, "p=c")))

        incoming = str(tmp_path / "cdc_part_in")
        os.makedirs(incoming)
        spark.createDataFrame(
            [(2, "a", "new"), (5, "b", "new")], "k long, p string, v string"
        ).coalesce(1).write.mode("overwrite").parquet(incoming)
        load_file_stream_merge(
            spark, a.File(incoming, filetype="parquet"), target, ["k"],
            checkpoint_dir=str(tmp_path / "cdc_part_ckpt"),
        )
        got = {r.k: (r.p, r.v) for r in spark.table("cdc_part_target").collect()}
        assert got == {
            1: ("a", "old"), 2: ("a", "new"), 3: ("b", "old"),
            4: ("c", "old"), 5: ("b", "new"),
        }
        # partition c was outside the batch: untouched on disk
        assert sorted(os.listdir(os.path.join(loc, "p=c"))) == c_before
        a.drop_table(spark, target)


class TestBloomScreenStream:
    def test_flags_match_batch_bloom(self, spark, tmp_path):
        """The stream's compiled-bitmask membership equals the batch
        bloom_membership verdict doc for doc, and exact dups are never
        missed (no false negatives through the stream path)."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import bloom_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.where("doc_id % 2 = 0")
        batch = docs.where("doc_id % 2 = 1")
        d = str(tmp_path / "odd")
        batch.repartition(3).write.parquet(d)

        streamed = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(spark, d, corpus).collect()
        }
        batch_flags = {
            r.doc_id: r.maybe_dup
            for r in dedup.bloom_membership(batch, dedup.bloom_build(corpus)).collect()
        }
        assert streamed == batch_flags
        exact = {r.text for r in corpus.select("text").collect()}
        for r in batch.select("doc_id", "text").collect():
            if r.text in exact:
                assert streamed[r.doc_id], f"stream false negative on {r.doc_id}"

    def test_self_screen_flags_cross_batch_exact_dup(self, spark, tmp_path):
        """self_screen=True: a doc accepted in batch 1 folds its bits
        into the driver-held mask, so its exact copy in batch 2 of the
        SAME drain flags; the default (static-mask) mode passes both.
        State stays m bits regardless of acceptance volume."""
        from astro_spark.streaming import bloom_screen_stream

        corpus = spark.createDataFrame(
            [(100, "corpus noise alpha"), (101, "corpus noise beta")],
            ["doc_id", "text"],
        )
        novel = "entirely new zqx document body"
        f1 = spark.createDataFrame([(90000, novel)], ["doc_id", "text"])
        f2 = spark.createDataFrame(
            [(90001, novel), (90002, "another fresh wqz item")],
            ["doc_id", "text"],
        )
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])

        blind = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, str(src), corpus, max_files_per_trigger=1
            ).collect()
        }
        assert blind == {90000: False, 90001: False, 90002: False}

        flagged = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, str(src), corpus,
                max_files_per_trigger=1, self_screen=True,
            ).collect()
        }
        assert flagged == {90000: False, 90001: True, 90002: False}

    def test_within_batch_keep_first_closes_intra_batch_window(
        self, spark, tmp_path
    ):
        """within_batch=True flags an exact dup arriving in the SAME
        micro-batch as its original (keep-first-by-id), and only the
        first occurrence folds into the mask; plain self_screen passes
        intra-batch twins (the documented granularity)."""
        import pytest

        from astro_spark.streaming import bloom_screen_stream

        corpus = spark.createDataFrame(
            [(100, "corpus noise alpha")], ["doc_id", "text"]
        )
        t = "brand new zzq document"
        batch = spark.createDataFrame(
            [(90000, t), (90001, t), (90002, "other fresh qqz text")],
            ["doc_id", "text"],
        )
        src = tmp_path / "in"
        _write_ordered_files(src, [batch])

        plain = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, str(src), corpus, self_screen=True
            ).collect()
        }
        assert plain == {90000: False, 90001: False, 90002: False}

        strict = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, str(src), corpus,
                self_screen=True, within_batch=True,
            ).collect()
        }
        assert strict == {90000: False, 90001: True, 90002: False}

        with pytest.raises(ValueError, match="within_batch"):
            bloom_screen_stream(
                spark, str(src), corpus, within_batch=True
            )

    def test_broadcast_mask_bit_identical_to_literal(self, spark, tmp_path):
        """mask_mode='broadcast' (the big-m path: mask ships as a
        broadcast numpy array probed in an Arrow stage) returns the
        exact flag set of the literal path at the same m — static AND
        self-screen modes (VERDICT r9 #2)."""
        from astro_spark.streaming import bloom_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.where("doc_id % 2 = 0")
        d = str(tmp_path / "odd")
        docs.where("doc_id % 2 = 1").repartition(3).write.parquet(d)

        lit = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, d, corpus, mask_mode="literal"
            ).collect()
        }
        bcast = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, d, corpus, mask_mode="broadcast"
            ).collect()
        }
        assert bcast == lit and len(lit) > 0

        # self-screen drain: per-batch mask snapshots re-broadcast
        novel = "entirely new zqx document body"
        f1 = spark.createDataFrame([(90000, novel)], ["doc_id", "text"])
        f2 = spark.createDataFrame(
            [(90001, novel), (90002, "another fresh wqz item")],
            ["doc_id", "text"],
        )
        small = spark.createDataFrame(
            [(100, "corpus noise alpha")], ["doc_id", "text"]
        )
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        for mode in ("literal", "broadcast"):
            flags = {
                r.doc_id: r.maybe_dup
                for r in bloom_screen_stream(
                    spark, str(src), small, max_files_per_trigger=1,
                    self_screen=True, within_batch=True, mask_mode=mode,
                ).collect()
            }
            assert flags == {90000: False, 90001: True, 90002: False}, mode

    def test_auto_mode_picks_broadcast_above_literal_cap(
        self, spark, tmp_path
    ):
        """mask_mode='auto' with m above BLOOM_LITERAL_MAX_BITS runs
        the broadcast path end-to-end (a 2^21-bit mask would already
        be 32k plan literals) and still agrees with the batch oracle
        semantics: exact corpus dups always flag."""
        from astro_spark.streaming import bloom_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.where("doc_id % 2 = 0")
        d = str(tmp_path / "odd")
        docs.where("doc_id % 2 = 1").repartition(3).write.parquet(d)
        big_m = 1 << 21
        flags = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(spark, d, corpus, m=big_m).collect()
        }
        exact = {r.text for r in corpus.select("text").collect()}
        for r in docs.where("doc_id % 2 = 1").select(
            "doc_id", "text"
        ).collect():
            if r.text in exact:
                assert flags[r.doc_id], f"false negative on {r.doc_id}"
        # bigger m, same k → strictly fewer-or-equal false positives
        from astro_spark.functions.constants import BLOOM_M

        small = {
            r.doc_id: r.maybe_dup
            for r in bloom_screen_stream(
                spark, d, corpus, m=BLOOM_M
            ).collect()
        }
        assert sum(flags.values()) <= sum(small.values())


class TestClusterRepresentatives:
    def test_rep_is_best_member_of_each_cluster(self, spark):
        from astro_spark.functions import dedup
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        pairs = dedup.minhash_lsh_pairs(docs)
        clusters = {
            (r.doc_id, r.cluster_id)
            for r in dedup.dup_clusters(pairs, docs.select("doc_id")).collect()
        }
        toks = {
            r.doc_id: r.n
            for r in docs.selectExpr(
                "doc_id", "size(split(trim(text), '\\\\s+')) AS n"
            ).collect()
        }
        reps = dedup.cluster_representatives(docs, pairs).collect()
        by_cluster: dict[int, list[int]] = {}
        for doc_id, cid in clusters:
            by_cluster.setdefault(cid, []).append(doc_id)
        assert len(reps) == len(by_cluster)
        for r in reps:
            members = by_cluster[r.cluster_id]
            assert r.rep_doc_id in members
            assert r.cluster_size == len(members)
            best = max(members, key=lambda d: (toks[d], -d))
            assert r.rep_doc_id == best and r.rep_tokens == toks[best]


def _write_ordered_files(src, dfs):
    """Write each df as one parquet file into ``src`` with strictly
    increasing mtimes, so a maxFilesPerTrigger=1 drain processes them
    in list order (FileStreamSource orders by modification time)."""
    import glob as _glob
    import os as _os
    import time as _time

    src.mkdir(exist_ok=True)
    t0 = _time.time()
    for i, df in enumerate(dfs):
        before = set(_glob.glob(str(src / "*.parquet")))
        df.coalesce(1).write.mode("append").parquet(str(src))
        for f in set(_glob.glob(str(src / "*.parquet"))) - before:
            _os.utime(f, (t0 + 10 * i, t0 + 10 * i))


class TestMinhashScreenStream:
    def test_multi_batch_union_equals_batch_result(self, spark, tmp_path):
        """Drained one file per micro-batch, the union of per-batch
        screens equals the one-shot batch incremental result — each
        batch doc meets the full corpus exactly once."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import minhash_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.where("doc_id % 2 = 0")
        batch = docs.where("doc_id % 2 = 1")
        d = str(tmp_path / "odd")
        batch.repartition(3).write.parquet(d)

        streamed = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in minhash_screen_stream(
                spark, d, corpus, max_files_per_trigger=1
            ).collect()
        }
        expected = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in dedup.minhash_incremental_pairs(batch, corpus).collect()
        }
        assert streamed == expected

    def test_indexed_drain_matches_rebuild_and_index_updates(
        self, spark, tmp_path
    ):
        """Drain against a PERSISTED banding index == drain that
        rebuilds the banding from corpus text; update_minhash_index then
        extends the screen to later-accepted docs without any rebuild
        (the minhash sibling of the containment index)."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import minhash_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        corpus = docs.where("doc_id % 2 = 0")
        batch = docs.where("doc_id % 2 = 1")
        d = str(tmp_path / "odd")
        batch.repartition(3).write.parquet(d)
        idx = str(tmp_path / "mh_idx")
        dedup.build_minhash_index(corpus, idx)

        indexed = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in minhash_screen_stream(
                spark, d, index_path=idx, max_files_per_trigger=1
            ).collect()
        }
        rebuilt = {
            (r.batch_id, r.corpus_id, r.jaccard)
            for r in minhash_screen_stream(spark, d, corpus).collect()
        }
        assert indexed == rebuilt

        # maintain: append one batch doc's banding; a later stream of
        # its near-identical twin is caught against the UPDATED index
        twin_src = docs.where("doc_id % 2 = 1").limit(1)
        row = twin_src.collect()[0]
        dedup.update_minhash_index(
            spark.createDataFrame([(90000, row.text)], ["doc_id", "text"]),
            idx,
        )
        d2 = str(tmp_path / "twin")
        spark.createDataFrame(
            [(90001, row.text)], ["doc_id", "text"]
        ).coalesce(1).write.parquet(d2)
        caught = {
            (r.batch_id, r.corpus_id)
            for r in minhash_screen_stream(
                spark, d2, index_path=idx
            ).collect()
        }
        assert (90001, 90000) in caught

    def test_self_screen_catches_cross_batch_twin(self, spark, tmp_path):
        """self_screen=True closes the within-drain blind spot: a novel
        doc accepted in batch 1 screens its near-dup twin arriving in
        batch 2 of the SAME drain; the default mode documents the gap
        (both pass).  Only ACCEPTED docs join the index (VERDICT r8 #2)."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import minhash_screen_stream

        corpus = spark.createDataFrame(
            [(100, "noise " * 30), (101, " ".join(f"c{i}" for i in range(40)))],
            ["doc_id", "text"],
        )
        novel = " ".join(f"zq{i} qz{i}" for i in range(40))
        twin = novel.replace("zq7", "zq7x")
        f1 = spark.createDataFrame([(90000, novel)], ["doc_id", "text"])
        f2 = spark.createDataFrame([(90001, twin)], ["doc_id", "text"])
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        idx = str(tmp_path / "mh_idx")
        dedup.build_minhash_index(corpus, idx)

        blind = {
            (r.batch_id, r.corpus_id)
            for r in minhash_screen_stream(
                spark, str(src), index_path=idx, max_files_per_trigger=1
            ).collect()
        }
        assert blind == set()  # both novel vs corpus: the documented gap

        caught = {
            (r.batch_id, r.corpus_id)
            for r in minhash_screen_stream(
                spark, str(src), index_path=idx,
                max_files_per_trigger=1, self_screen=True,
            ).collect()
        }
        assert caught == {(90001, 90000)}
        ids = {r.id for r in spark.read.parquet(idx).select("id").collect()}
        assert 90000 in ids and 90001 not in ids  # accepted-only appends

    def test_self_screen_requires_index_path(self, spark, tmp_path):
        import pytest

        from astro_spark.streaming import minhash_screen_stream

        corpus = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="self_screen"):
            minhash_screen_stream(
                spark, str(tmp_path), corpus, self_screen=True
            )

    def test_screen_requires_exactly_one_corpus_mode(self, spark, tmp_path):
        import pytest

        from astro_spark.streaming import minhash_screen_stream

        with pytest.raises(ValueError, match="exactly one"):
            minhash_screen_stream(spark, str(tmp_path))


class TestSignatureScreenStream:
    def test_drained_union_equals_one_shot_screen(self, spark, tmp_path):
        """Perceptual image screen: the multi-batch drain against a
        persisted aHash index equals the one-shot batch-vs-corpus
        banded hamming screen, and each batch twin is caught."""
        from astro_spark.functions import media_codecs as mc
        from astro_spark.functions.dedup import hash_hamming_incremental_pairs
        from astro_spark.functions.multimodal import image_ahash
        from astro_spark.streaming import signature_screen_stream

        def png(seed, perturb=False):
            w = h = 8
            pix = bytearray(
                ((seed * 1009 + i) ** 2) % 1000003 % 256
                for i in range(w * h * 3)
            )
            if perturb:
                for i in range(3):
                    pix[i] = (pix[i] + 40) % 256
            return mc.encode_png(bytes(pix), w, h, 3)

        corpus = spark.createDataFrame(
            [(100, "image/png", png(1)), (101, "image/png", png(2))],
            "doc_id long, media_type string, payload binary",
        )
        batch = spark.createDataFrame(
            [(1, "image/png", png(1, perturb=True)),
             (2, "image/png", png(9))],
            "doc_id long, media_type string, payload binary",
        )
        idx = str(tmp_path / "sig_idx")
        image_ahash(corpus).write.parquet(idx)
        src = tmp_path / "in"
        src.mkdir()
        batch.where("doc_id = 1").coalesce(1).write.mode("append").parquet(str(src))
        batch.where("doc_id = 2").coalesce(1).write.mode("append").parquet(str(src))

        streamed = {
            (r.batch_id, r.corpus_id, r.hamming)
            for r in signature_screen_stream(
                spark, str(src), image_ahash, idx, sig_col="ahash",
                max_hamming=4, max_files_per_trigger=1,
            ).collect()
        }
        one_shot = {
            (r.batch_id, r.corpus_id, r.hamming)
            for r in hash_hamming_incremental_pairs(
                image_ahash(batch), image_ahash(corpus),
                id_col="id", hash_col="ahash", max_hamming=4,
            ).collect()
        }
        assert streamed == one_shot
        assert {(b, c) for b, c, _ in streamed} == {(1, 100)}  # twin caught

    def test_self_screen_catches_cross_batch_image_twin(self, spark, tmp_path):
        """self_screen=True: an image accepted in batch 1 catches its
        perturbed twin arriving in batch 2 of the SAME drain; default
        mode passes both (VERDICT r8 #2).  Flagged items never join
        the signature index."""
        from astro_spark.functions import media_codecs as mc
        from astro_spark.functions.multimodal import image_ahash
        from astro_spark.streaming import signature_screen_stream

        def png(seed, perturb=False):
            w = h = 8
            pix = bytearray(
                ((seed * 1009 + i) ** 2) % 1000003 % 256
                for i in range(w * h * 3)
            )
            if perturb:
                for i in range(3):
                    pix[i] = (pix[i] + 40) % 256
            return mc.encode_png(bytes(pix), w, h, 3)

        corpus = spark.createDataFrame(
            [(100, "image/png", png(1))],
            "doc_id long, media_type string, payload binary",
        )
        f1 = spark.createDataFrame(
            [(5, "image/png", png(5))],
            "doc_id long, media_type string, payload binary",
        )
        f2 = spark.createDataFrame(
            [(6, "image/png", png(5, perturb=True))],
            "doc_id long, media_type string, payload binary",
        )
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        idx = str(tmp_path / "sig_idx")
        image_ahash(corpus).write.parquet(idx)

        blind = {
            (r.batch_id, r.corpus_id)
            for r in signature_screen_stream(
                spark, str(src), image_ahash, idx, sig_col="ahash",
                max_hamming=4, max_files_per_trigger=1,
            ).collect()
        }
        assert blind == set()

        caught = {
            (r.batch_id, r.corpus_id)
            for r in signature_screen_stream(
                spark, str(src), image_ahash, idx, sig_col="ahash",
                max_hamming=4, max_files_per_trigger=1, self_screen=True,
            ).collect()
        }
        assert caught == {(6, 5)}
        ids = {r.id for r in spark.read.parquet(idx).select("id").collect()}
        assert 5 in ids and 6 not in ids

    def test_build_and_update_signature_index_helpers(self, spark, tmp_path):
        """build/update_signature_index round out the ingest-index
        family (minhash/containment siblings): built index == the
        ad-hoc write, and an updated index extends the screen to
        later-accepted items."""
        from astro_spark.functions import media_codecs as mc
        from astro_spark.functions.dedup import hash_hamming_incremental_pairs
        from astro_spark.functions.multimodal import (
            build_signature_index,
            image_ahash,
            update_signature_index,
        )

        def png(seed):
            w = h = 8
            pix = bytes(
                ((seed * 1009 + i) ** 2) % 1000003 % 256
                for i in range(w * h * 3)
            )
            return mc.encode_png(pix, w, h, 3)

        corpus = spark.createDataFrame(
            [(100, "image/png", png(1))],
            "doc_id long, media_type string, payload binary",
        )
        later = spark.createDataFrame(
            [(200, "image/png", png(2))],
            "doc_id long, media_type string, payload binary",
        )
        idx = str(tmp_path / "idx")
        build_signature_index(corpus, image_ahash, idx, sig_col="ahash")
        assert {r.id for r in spark.read.parquet(idx).collect()} == {100}
        update_signature_index(later, image_ahash, idx, sig_col="ahash")
        assert {r.id for r in spark.read.parquet(idx).collect()} == {100, 200}
        probe = spark.createDataFrame(
            [(7, "image/png", png(2))],
            "doc_id long, media_type string, payload binary",
        )
        pairs = {
            (r.batch_id, r.corpus_id)
            for r in hash_hamming_incremental_pairs(
                image_ahash(probe), spark.read.parquet(idx),
                id_col="id", hash_col="ahash", max_hamming=0,
            ).collect()
        }
        assert pairs == {(7, 200)}


class TestDriftScreenStream:
    def test_per_batch_histograms_tile_the_full_candidate(self, spark, tmp_path):
        """Drained one file per micro-batch: per-bin n_cand summed over
        batches equals the one-shot drift's candidate histogram, the
        reference side is identical in every batch, and every contrib
        satisfies the integer formula exactly."""
        from pyspark.sql import functions as F

        from astro_spark.functions.sampling import distribution_drift
        from astro_spark.streaming import drift_screen_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        ref = docs.where("doc_id % 2 = 0")
        cand = docs.where("doc_id % 2 = 1")
        d = str(tmp_path / "odd")
        cand.repartition(3).write.parquet(d)

        rows = drift_screen_stream(
            spark, d, ref, max_files_per_trigger=1
        ).collect()
        assert len({r.batch_id for r in rows}) == 3

        # reference proportions identical across batches
        by_bin_ref = {}
        for r in rows:
            by_bin_ref.setdefault(r.bin, set()).add((r.n_ref, r.p_ref_e6))
        assert all(len(v) == 1 for v in by_bin_ref.values())

        # candidate mass tiles the one-shot histogram
        got_cand = {}
        for r in rows:
            got_cand[r.bin] = got_cand.get(r.bin, 0) + r.n_cand
        expected = {
            r.bin: r.n_cand
            for r in distribution_drift(ref, cand, F.expr("n_chars DIV 100")).collect()
        }
        assert got_cand == expected

        # exact integer formula per row
        for r in rows:
            assert r.contrib == (
                (r.p_cand_e6 - r.p_ref_e6) ** 2 // max(r.p_ref_e6, 1)
            )


class TestIvfIndexStream:
    def test_streamed_appends_equal_one_shot_build(self, spark, tmp_path):
        """Draining vectors one file per micro-batch into the index
        equals a one-shot build with the same centroids; the base
        index's files keep their paths."""
        import os as _os

        from astro_spark.functions import similarity
        from astro_spark.streaming import ivf_index_stream
        from astro_spark.testdata import read_table

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = similarity.ivf_train(emb, n_cells=4, iterations=1)
        grown = str(tmp_path / "grown")
        similarity.ivf_write_index(emb.where("vec_id % 2 = 0"), cents, grown)

        def _files(p):
            out = []
            for root, _d, fs in _os.walk(p):
                if "_centroids" in root:
                    continue
                out += [_os.path.join(root, f) for f in fs if f.endswith(".parquet")]
            return set(out)

        before = _files(grown)
        odd = str(tmp_path / "odd")
        emb.where("vec_id % 2 = 1").repartition(3).write.parquet(odd)
        n = ivf_index_stream(spark, odd, grown, max_files_per_trigger=1)
        assert n == 3  # one micro-batch per file
        assert before <= _files(grown)

        full = str(tmp_path / "full")
        similarity.ivf_write_index(emb, cents, full)
        q = emb.where("vec_id < 5")
        a = sorted(map(tuple, similarity.ivf_topk_indexed(spark, grown, q, nprobe=2, k=3).collect()))
        b = sorted(map(tuple, similarity.ivf_topk_indexed(spark, full, q, nprobe=2, k=3).collect()))
        assert a == b


class TestAggregateMvStream:
    def test_mv_equals_batch_aggregate(self, spark, events_dir):
        """Sums-of-sums over per-batch partials equal the one-shot batch
        GROUP BY, with the backlog genuinely split across micro-batches."""
        import uuid

        from pyspark.sql import functions as F

        from astro_spark.streaming import aggregate_mv_stream

        mv_name = f"mv_test_{uuid.uuid4().hex[:8]}"

        def partial(b):
            return b.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias(
                    "cents"
                ),
            )

        mv = aggregate_mv_stream(
            spark, events_dir, ["event_type"], partial, mv_name,
            max_files_per_trigger=1,
        )
        got = {r.event_type: (r.n, r.cents) for r in mv.collect()}
        expect = {
            r.event_type: (r.n, r.cents)
            for r in partial(spark.read.parquet(events_dir)).collect()
        }
        assert got == expect
        # two staged files → two __batch_id partitions of partials
        n_batches = (
            spark.table(f"{mv_name}_partials").select("__batch_id").distinct().count()
        )
        assert n_batches == 2

    def test_partial_replay_does_not_double_count(self, spark, events_dir):
        """Replaying a committed batch's partial (at-least-once rerun)
        overwrites its own __batch_id partition; the MV re-aggregation
        is unchanged."""
        import uuid

        from pyspark.sql import functions as F

        from astro_spark.streaming import aggregate_mv_stream
        from astro_spark.streaming.load_stream import _write_sink_batch

        mv_name = f"mv_test_{uuid.uuid4().hex[:8]}"

        def partial(b):
            return b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

        mv = aggregate_mv_stream(
            spark, events_dir, ["event_type"], partial, mv_name,
            max_files_per_trigger=1,
        )
        before = {r.event_type: r.n for r in mv.collect()}
        phys = f"{mv_name}_partials"
        batch0 = spark.table(phys).where("__batch_id = 0").drop("__batch_id")
        _write_sink_batch(batch0, phys, 0)
        spark.catalog.refreshTable(phys)
        partials = spark.table(phys).drop("__batch_id")
        after = {
            r.event_type: r.n
            for r in partials.groupBy("event_type")
            .agg(F.sum("n").cast("long").alias("n"))
            .collect()
        }
        assert after == before

    def test_compaction_preserves_mv_and_resume(self, spark, events_dir, tmp_path):
        """Folding the per-batch partials into one __batch_id=-1
        partition leaves the MV bit-identical, and a resumed drain
        (same checkpoint) lands new batches NEXT to the compacted
        history without double-counting."""
        import glob
        import shutil
        import uuid

        from pyspark.sql import functions as F

        from astro_spark.streaming import aggregate_mv_stream, compact_mv_partials

        mv_name = f"mv_test_{uuid.uuid4().hex[:8]}"
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        shutil.copytree(events_dir, src)

        def partial(b):
            return b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

        def drain():
            return aggregate_mv_stream(
                spark, src, ["event_type"], partial, mv_name,
                checkpoint_dir=ckpt, max_files_per_trigger=1,
                compact_partials_over_n_batches=None,
            )

        before = {r.event_type: r.n for r in drain().collect()}
        assert compact_mv_partials(spark, mv_name, ["event_type"]) == 2
        phys = f"{mv_name}_partials"
        assert spark.table(phys).select("__batch_id").distinct().count() == 1
        after = {r.event_type: r.n for r in drain().collect()}
        assert after == before
        # resume: a new file arrives; its batch partial lands beside -1
        part = glob.glob(f"{events_dir}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/part-resume.parquet")
        resumed = {r.event_type: r.n for r in drain().collect()}
        extra = {
            r.event_type: r.n
            for r in partial(spark.read.parquet(f"{src}/part-resume.parquet")).collect()
        }
        want = {t: before.get(t, 0) + extra.get(t, 0) for t in set(before) | set(extra)}
        assert resumed == want
        # the auto-hook folds again once the partition count crosses N
        aggregate_mv_stream(
            spark, src, ["event_type"], partial, mv_name,
            checkpoint_dir=ckpt, max_files_per_trigger=1,
            compact_partials_over_n_batches=1,
        )
        assert spark.table(phys).select("__batch_id").distinct().count() == 1

    def test_compaction_leaves_no_temp_dir(self, spark, tmp_path, monkeypatch):
        """The partial compaction stages its fold in a temp dir and
        removes it once the INSERT OVERWRITE has landed."""
        import tempfile
        import uuid

        from astro_spark.streaming import compact_mv_partials

        tmp = tmp_path / "tmp"
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        mv_name = f"mv_test_{uuid.uuid4().hex[:8]}"
        phys = f"{mv_name}_partials"
        spark.createDataFrame(
            [("a", 1, 0), ("a", 2, 1), ("b", 3, 1)],
            "event_type string, n long, __batch_id long",
        ).write.partitionBy("__batch_id").format("parquet").saveAsTable(phys)
        try:
            assert compact_mv_partials(spark, mv_name, ["event_type"]) == 2
            got = {r.event_type: r.n for r in spark.table(phys).collect()}
            assert got == {"a": 3, "b": 3}
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {phys}")
        assert not list(tmp.glob("astro_mv_compact_*"))

    def test_reused_mv_name_with_fresh_checkpoint_drops_stale_partials(
        self, spark, events_dir, tmp_path
    ):
        """A fresh run reusing an mv_name must not re-aggregate the
        prior run's partials: a SHORTER second input yields exactly the
        shorter input's aggregate (ADVICE r5)."""
        import uuid

        from pyspark.sql import functions as F

        from astro_spark.streaming import aggregate_mv_stream

        mv_name = f"mv_test_{uuid.uuid4().hex[:8]}"

        def partial(b):
            return b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

        aggregate_mv_stream(
            spark, events_dir, ["event_type"], partial, mv_name,
            max_files_per_trigger=1,
        )
        # shorter input: only the first staged file, new (auto) checkpoint
        short_dir = str(tmp_path / "short")
        first = sorted(
            p for p in __import__("os").listdir(events_dir)
            if p.endswith(".parquet")
        )[0]
        spark.read.parquet(f"{events_dir}/{first}").write.parquet(short_dir)
        mv2 = aggregate_mv_stream(
            spark, short_dir, ["event_type"], partial, mv_name,
            max_files_per_trigger=1,
        )
        got = {r.event_type: r.n for r in mv2.collect()}
        expect = {
            r.event_type: r.n
            for r in partial(spark.read.parquet(short_dir)).collect()
        }
        assert got == expect


class TestWeightedSampleStream:
    def test_streamed_equals_batch_sample(self, spark, sf_dir, tmp_path):
        """The drained bounded-state reservoir equals the one-shot
        batch priority sample (mergeability), with the backlog
        genuinely split across micro-batches."""
        from astro_spark.functions.sampling import weighted_sample_n
        from astro_spark.streaming import weighted_sample_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        staged = str(tmp_path / "docs")
        docs.repartition(3).write.parquet(staged)
        streamed = weighted_sample_stream(
            spark, staged, n=50, weight_col="n_chars",
            cols=["doc_id", "lang", "n_chars"], max_files_per_trigger=1,
        ).collect()
        batch = weighted_sample_n(docs, 50, "n_chars").collect()
        key = lambda r: (r.sample_rank, r.doc_id, r.lang, r.n_chars)
        assert sorted(map(key, streamed)) == sorted(map(key, batch))

    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        """Re-merging a batch's top-n into the reservoir changes
        nothing (set algebra keyed by id) — at-least-once safety."""
        from astro_spark.streaming import weighted_sample_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        staged = str(tmp_path / "docs")
        # duplicate the SAME file twice: the second "batch" replays the
        # first's rows
        docs.coalesce(1).write.parquet(staged)
        import glob
        import shutil

        part = glob.glob(f"{staged}/part-*.parquet")[0]
        shutil.copy(part, f"{staged}/part-replay.parquet")
        streamed = weighted_sample_stream(
            spark, staged, n=50, weight_col="n_chars",
            cols=["doc_id", "lang", "n_chars"], max_files_per_trigger=1,
        ).collect()
        from astro_spark.functions.sampling import weighted_sample_n

        batch = weighted_sample_n(docs, 50, "n_chars").collect()
        key = lambda r: (r.sample_rank, r.doc_id)
        assert sorted(map(key, streamed)) == sorted(map(key, batch))


class TestStreamApplyChanges:
    def test_drain_applies_in_order_and_resumes(self, spark, tmp_path):
        """Two change files drain in arrival order (later tombstone
        overrides earlier upsert); a third file appended later resumes
        from the checkpoint and applies on top."""
        import uuid

        from pyspark.sql import functions as F

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.streaming import load_file_stream_changes

        tgt = a.Table(f"cdc_sc_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
            tgt,
        )
        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")

        def _stage(name, rows):
            stage = str(tmp_path / "stage")
            spark.createDataFrame(rows, "k long, v string, op string").coalesce(
                1
            ).write.mode("overwrite").parquet(stage)
            import glob
            import shutil

            shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], str(src / name))

        _stage("00.parquet", [(1, "a1", "U"), (4, "d", "I")])
        _stage("01.parquet", [(1, None, "D"), (2, "b1", "U")])

        def _drain():
            load_file_stream_changes(
                spark,
                a.File(path=str(src), filetype=a.FileType.PARQUET),
                tgt,
                ["k"],
                checkpoint_dir=ckpt,
                max_files_per_trigger=1,
            )

        _drain()
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(2, "b1"), (3, "c"), (4, "d")}
        # resume: new file revives key 1 and deletes key 4
        _stage("02.parquet", [(1, "a2", "I"), (4, None, "D")])
        _drain()
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        assert got == {(1, "a2"), (2, "b1"), (3, "c")}

    def test_shuffled_file_order_converges_with_seq(self, spark, tmp_path):
        """With seq_col, draining the SAME change files in any arrival
        order converges to the in-order result: the applied-seq sidecar
        drops stale late arrivals instead of letting them overwrite
        newer state (VERDICT r6 #1)."""
        import uuid

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.streaming import load_file_stream_changes

        batches = [
            [(1, "v1", "U", 1), (2, "w1", "U", 1), (5, "e1", "I", 1)],
            [(1, "v2", "U", 2), (3, "x2", "I", 2)],
            [(1, None, "D", 3), (2, "w3", "U", 3), (5, None, "D", 3)],
        ]
        # in-order result: 2→w3, 3→x2, 4→d (seed), 1 and 5 deleted
        expect = {(2, "w3"), (3, "x2"), (4, "d")}

        from tests._budget import trials

        # low tier keeps the most adversarial order (fully reversed)
        for order in ([2, 0, 1], [0, 1, 2], [1, 2, 0])[: trials(1, 3)]:
            tgt = a.Table(f"cdc_ooo_{uuid.uuid4().hex[:8]}", temp=False)
            save_dataframe_as_table(
                spark.createDataFrame([(4, "d")], "k long, v string"), tgt
            )
            src = tmp_path / f"src_{'_'.join(map(str, order))}"
            src.mkdir()
            for pos, batch_idx in enumerate(order):
                stage = str(tmp_path / "stage")
                spark.createDataFrame(
                    batches[batch_idx], "k long, v string, op string, seq long"
                ).coalesce(1).write.mode("overwrite").parquet(stage)
                import glob
                import shutil

                shutil.move(
                    glob.glob(f"{stage}/part-*.parquet")[0],
                    str(src / f"{pos:02d}.parquet"),
                )
            load_file_stream_changes(
                spark,
                a.File(path=str(src), filetype=a.FileType.PARQUET),
                tgt,
                ["k"],
                seq_col="seq",
                max_files_per_trigger=1,
            )
            got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
            assert got == expect, f"arrival order {order} diverged: {got}"
            spark.sql(f"DROP TABLE IF EXISTS {tgt.name}")
            spark.sql(f"DROP TABLE IF EXISTS {tgt.name}__applied_seq")

    def test_drain_with_sidecar_retention(self, spark, tmp_path):
        """expire_seq_older_than wires expire_applied_seq into the
        drain: after the drain, dead-key sidecar entries older than the
        horizon are gone while live-key and recent-tombstone entries
        keep their ordering protection (VERDICT r8 #7)."""
        import uuid

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.streaming import load_file_stream_changes

        tgt = a.Table(f"cdc_ret_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame([(1, "a")], "k long, v string"), tgt
        )
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [(1, "a1", "U", 10), (2, None, "D", 3), (3, None, "D", 20)],
            "k long, v string, op string, seq long",
        ).coalesce(1).write.mode("overwrite").parquet(str(src))
        load_file_stream_changes(
            spark,
            a.File(path=str(src), filetype=a.FileType.PARQUET),
            tgt,
            ["k"],
            seq_col="seq",
            expire_seq_older_than=15,
        )
        side = {
            (r.k, r["__seq"])
            for r in spark.table(f"{tgt.name}__applied_seq").collect()
        }
        # key 1 live (kept at seq 10 < horizon), key 2 dead+old
        # (expired), key 3 dead but newer than the horizon (kept)
        assert side == {(1, 10), (3, 20)}
        assert {(r.k, r.v) for r in spark.table(tgt.name).collect()} == {
            (1, "a1")
        }

    def test_retention_requires_enforce_order(self, spark, tmp_path):
        import pytest

        import astro_spark as a
        from astro_spark.streaming import load_file_stream_changes

        with pytest.raises(ValueError, match="enforce_order"):
            load_file_stream_changes(
                spark,
                a.File(path=str(tmp_path), filetype=a.FileType.PARQUET),
                a.Table("whatever", temp=False),
                ["k"],
                expire_seq_older_than=5,
            )


class TestCdcAutoCompact:
    def test_compacts_small_files_and_replay_is_idempotent(self, spark, tmp_path):
        """The CDC drain's auto-compact hook folds copy-on-write file
        accumulation back to the byte target; contents equal the plain
        merge result and a replayed drain (same checkpoint) changes
        nothing."""
        import os
        import uuid

        from pyspark.sql import functions as F

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.operators.cow import parquet_location
        from astro_spark.streaming import load_file_stream_merge

        base = spark.range(0, 300).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        tgt = a.Table(f"cdc_compact_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(base.where("k % 3 = 0"), tgt)
        src_dir = str(tmp_path / "src")
        base.where("k % 2 = 0").withColumn(
            "v", F.col("v") + F.lit(1)
        ).repartition(4).write.parquet(src_dir)
        ckpt = str(tmp_path / "ckpt")

        def _drain():
            load_file_stream_merge(
                spark,
                a.File(path=src_dir, filetype=a.FileType.PARQUET),
                tgt,
                ["k"],
                if_conflicts="update",
                checkpoint_dir=ckpt,
                max_files_per_trigger=1,
                auto_compact_every_n_batches=1,
                auto_compact_opts={"small_file_mb": 64, "min_small_files": 2},
            )

        def _data_files():
            loc = parquet_location(spark, tgt.qualified_name).removeprefix(
                "file:"
            )
            return [
                f
                for f in os.listdir(loc)
                if not f.startswith(("_", "."))
            ]

        _drain()
        # update-path COW across 4 micro-batches would leave many small
        # files; the per-batch policy folds them to the byte target
        assert len(_data_files()) <= 2
        got = {(r.k, r.v) for r in spark.table(tgt.name).collect()}
        want = {
            (k, 2 * k + 1 if k % 2 == 0 else 2 * k)
            for k in range(300)
            if k % 3 == 0 or k % 2 == 0
        }
        assert got == want
        # replay with the same checkpoint: no new batches, no change
        _drain()
        spark.catalog.refreshTable(tgt.qualified_name)
        assert {(r.k, r.v) for r in spark.table(tgt.name).collect()} == want


class TestKmvStream:
    def test_streamed_equals_batch_sketch(self, spark, sf_dir):
        """Min-merge across micro-batches equals the one-shot batch KMV
        (mergeability), with the backlog genuinely multi-batch."""
        import tempfile

        from astro_spark.functions.sketches import kmv_token_report
        from astro_spark.streaming import kmv_stream
        from astro_spark.testdata import read_table

        docs = read_table(spark, sf_dir, "documents")
        d = tempfile.mkdtemp(prefix="astro_kmvstream_")
        docs.repartition(3).write.mode("overwrite").parquet(d)

        streamed = kmv_stream(spark, d, max_files_per_trigger=1).collect()[0]
        batch = kmv_token_report(docs, shingle=3).collect()[0]
        assert streamed.k_used == batch.k_used
        assert streamed.kth_min_hash == batch.kth_min_hash
        assert streamed.est_distinct == batch.est_distinct

    def test_replay_merge_is_idempotent(self, spark):
        """Min-merging the same batch twice is a no-op by set algebra —
        the state update kmv_stream's foreachBatch performs."""
        state = {5, 9, 2}
        batch = [2, 7, 11]
        k = 4

        def merge(state, hashes):
            state.update(hashes)
            if len(state) > k:
                for h in sorted(state)[k:]:
                    state.discard(h)

        merge(state, batch)
        once = set(state)
        merge(state, batch)
        assert state == once == {2, 5, 7, 9}


class TestStreamScd2:
    def _seed(self, spark, rows):
        import uuid

        import astro_spark as a
        from astro_spark.operators.load_file import save_dataframe_as_table

        tgt = a.Table(f"scd2_st_{uuid.uuid4().hex[:8]}", temp=False)
        save_dataframe_as_table(
            spark.createDataFrame(
                rows, "k long, val string, valid_from string, valid_to string"
            ),
            tgt,
        )
        return tgt

    def test_multi_day_backlog_applies_dates_ascending(self, spark, tmp_path):
        """One micro-batch carrying TWO snapshot dates must close and
        open history in date order, matching sequential batch scd2."""
        import astro_spark as a
        from astro_spark.streaming import load_file_stream_scd2

        tgt = self._seed(spark, [(1, "x", "2024-01-01", None), (2, "y", "2024-01-01", None)])
        src = tmp_path / "snaps"
        src.mkdir()
        spark.createDataFrame(
            [(1, "x2", "2024-02-01"), (2, "y", "2024-02-01")],
            "k long, val string, eff string",
        ).coalesce(1).write.mode("append").parquet(str(src))
        spark.createDataFrame(
            [(1, "x3", "2024-03-01"), (3, "z", "2024-03-01")],
            "k long, val string, eff string",
        ).coalesce(1).write.mode("append").parquet(str(src))
        load_file_stream_scd2(
            spark,
            a.File(path=str(src), filetype=a.FileType.PARQUET),
            tgt,
            key_cols=["k"],
            attr_cols=["val"],
            effective_date_col="eff",
        )
        got = {
            (r.k, r.val, r.valid_from, r.valid_to)
            for r in spark.table(tgt.name).collect()
        }
        assert got == {
            (1, "x", "2024-01-01", "2024-02-01"),
            (1, "x2", "2024-02-01", "2024-03-01"),
            (1, "x3", "2024-03-01", None),
            (2, "y", "2024-01-01", None),  # unchanged snapshot value
            (3, "z", "2024-03-01", None),  # first seen in day-2 snapshot
        }

    def test_replayed_snapshot_is_noop(self, spark, tmp_path):
        """Re-draining the same snapshot files with a FRESH checkpoint
        re-applies identical snapshots — matching attributes leave the
        history untouched (idempotent replay)."""
        import astro_spark as a
        from astro_spark.streaming import load_file_stream_scd2

        tgt = self._seed(spark, [(1, "x", "2024-01-01", None)])
        src = tmp_path / "snaps"
        src.mkdir()
        spark.createDataFrame(
            [(1, "x2", "2024-02-01")], "k long, val string, eff string"
        ).coalesce(1).write.mode("append").parquet(str(src))

        def _drain(ck):
            load_file_stream_scd2(
                spark,
                a.File(path=str(src), filetype=a.FileType.PARQUET),
                tgt,
                key_cols=["k"],
                attr_cols=["val"],
                effective_date_col="eff",
                checkpoint_dir=str(tmp_path / ck),
            )

        _drain("ck1")
        first = sorted(
            (r.k, r.val, r.valid_from, r.valid_to)
            for r in spark.table(tgt.name).collect()
        )
        _drain("ck2")
        second = sorted(
            (r.k, r.val, r.valid_from, r.valid_to)
            for r in spark.table(tgt.name).collect()
        )
        assert first == second

    def test_duplicate_key_in_snapshot_raises(self, spark, tmp_path):
        import pytest

        import astro_spark as a
        from astro_spark.streaming import load_file_stream_scd2

        tgt = self._seed(spark, [(1, "x", "2024-01-01", None)])
        src = tmp_path / "snaps"
        src.mkdir()
        spark.createDataFrame(
            [(1, "x2", "2024-02-01"), (1, "x3", "2024-02-01")],
            "k long, val string, eff string",
        ).coalesce(1).write.mode("append").parquet(str(src))
        with pytest.raises(Exception, match="one state per key"):
            load_file_stream_scd2(
                spark,
                a.File(path=str(src), filetype=a.FileType.PARQUET),
                tgt,
                key_cols=["k"],
                attr_cols=["val"],
                effective_date_col="eff",
            )


class TestContainmentScreenStream:
    def test_drained_union_equals_one_shot_screen(self, spark, tmp_path):
        from astro_spark.functions import dedup
        from astro_spark.streaming import containment_screen_stream

        quoted = "alpha beta gamma delta epsilon zeta eta theta"
        filler = " ".join(f"w{i} x{i}" for i in range(30))
        corpus = spark.createDataFrame(
            [(100, f"{filler} {quoted} {filler}"), (101, "noise " * 20)],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [(1, quoted), (2, "totally different words here indeed")],
            ["doc_id", "text"],
        )
        src = tmp_path / "in"
        src.mkdir()
        batch.where("doc_id = 1").coalesce(1).write.mode("append").parquet(str(src))
        batch.where("doc_id = 2").coalesce(1).write.mode("append").parquet(str(src))
        streamed = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in containment_screen_stream(
                spark, str(src), corpus, threshold=0.5,
                max_files_per_trigger=1,
            ).collect()
        }
        one_shot = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in dedup.containment_incremental_pairs(
                batch, corpus, threshold=0.5
            ).collect()
        }
        assert streamed == one_shot == {(1, 100, 1.0)}

    def test_indexed_drain_matches_rebuild_and_index_updates(
        self, spark, tmp_path
    ):
        """Drain against a PERSISTED (cid, h) index == drain that
        rebuilds the index from corpus text; update_containment_index
        then extends the screen to later-accepted docs without any
        rebuild (VERDICT r8 #6)."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import containment_screen_stream

        quoted = "alpha beta gamma delta epsilon zeta eta theta"
        filler = " ".join(f"w{i} x{i}" for i in range(30))
        later = "omega psi chi phi upsilon tau sigma rho"
        corpus = spark.createDataFrame(
            [(100, f"{filler} {quoted} {filler}"), (101, "noise " * 20)],
            ["doc_id", "text"],
        )
        idx = str(tmp_path / "cont_idx")
        dedup.build_containment_index(corpus, idx)

        batch = spark.createDataFrame(
            [(1, quoted), (2, "totally different words here indeed")],
            ["doc_id", "text"],
        )
        src = tmp_path / "in"
        src.mkdir()
        batch.coalesce(1).write.mode("append").parquet(str(src))
        indexed = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in containment_screen_stream(
                spark, str(src), index_path=idx, threshold=0.5
            ).collect()
        }
        rebuilt = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in containment_screen_stream(
                spark, str(src), corpus, threshold=0.5
            ).collect()
        }
        assert indexed == rebuilt == {(1, 100, 1.0)}

        # maintain: append a newly-accepted doc's shingles, then a later
        # batch quoting IT is caught — no rebuild, no corpus text scan
        dedup.update_containment_index(
            spark.createDataFrame(
                [(200, f"{filler} {later} {filler}")], ["doc_id", "text"]
            ),
            idx,
        )
        src2 = tmp_path / "in2"
        src2.mkdir()
        spark.createDataFrame([(3, later)], ["doc_id", "text"]).coalesce(
            1
        ).write.mode("append").parquet(str(src2))
        caught = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in containment_screen_stream(
                spark, str(src2), index_path=idx, threshold=0.5
            ).collect()
        }
        assert caught == {(3, 200, 1.0)}

    def test_self_screen_catches_cross_batch_repost(self, spark, tmp_path):
        """self_screen=True: a long doc accepted in batch 1 catches a
        re-post of its quoted core arriving in batch 2 of the SAME
        drain; default mode passes both (VERDICT r8 #2)."""
        from astro_spark.functions import dedup
        from astro_spark.streaming import containment_screen_stream

        corpus = spark.createDataFrame(
            [(100, "noise " * 30)], ["doc_id", "text"]
        )
        quoted = "alpha beta gamma delta epsilon zeta eta theta"
        filler = " ".join(f"w{i} x{i}" for i in range(30))
        f1 = spark.createDataFrame(
            [(91000, f"{filler} {quoted} {filler}")], ["doc_id", "text"]
        )
        f2 = spark.createDataFrame([(91001, quoted)], ["doc_id", "text"])
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        idx = str(tmp_path / "cont_idx")
        dedup.build_containment_index(corpus, idx)

        blind = {
            (r.batch_id, r.corpus_id)
            for r in containment_screen_stream(
                spark, str(src), index_path=idx, threshold=0.5,
                max_files_per_trigger=1,
            ).collect()
        }
        assert blind == set()

        caught = {
            (r.batch_id, r.corpus_id, r.containment)
            for r in containment_screen_stream(
                spark, str(src), index_path=idx, threshold=0.5,
                max_files_per_trigger=1, self_screen=True,
            ).collect()
        }
        assert caught == {(91001, 91000, 1.0)}
        cids = {r.cid for r in spark.read.parquet(idx).select("cid").distinct().collect()}
        assert 91000 in cids and 91001 not in cids

    def test_screen_requires_exactly_one_corpus_mode(self, spark, tmp_path):
        import pytest

        from astro_spark.streaming import containment_screen_stream

        with pytest.raises(ValueError, match="exactly one"):
            containment_screen_stream(spark, str(tmp_path))

    def test_zero_batch_drain_reads_back_empty(self, spark, tmp_path):
        """A drain that fired ZERO micro-batches leaves no batch=* dirs;
        the read-back must return an empty frame with the screen schema
        instead of raising path-not-found (ADVICE r8)."""
        from astro_spark.streaming.drain import read_batch_dirs

        out = read_batch_dirs(
            spark,
            str(tmp_path / "nothing_here"),
            "batch_id long, corpus_id long, containment double",
        )
        assert out.count() == 0
        assert out.columns == ["batch_id", "corpus_id", "containment"]


class TestVersionedStream:
    def test_each_batch_commits_one_version_merge_and_append(
        self, spark, tmp_path
    ):
        """load_file_stream_versioned: one tt version per micro-batch;
        time travel reaches every batch boundary; merge mode upserts by
        key, append mode accumulates."""
        import astro_spark as a
        from astro_spark.streaming import load_file_stream_versioned

        root = str(tmp_path / "ttstream")
        a.tt_create(
            spark,
            spark.createDataFrame([(1, "seed"), (2, "seed")], "k long, v string"),
            root,
        )
        f1 = spark.createDataFrame([(2, "b1"), (3, "b1")], "k long, v string")
        f2 = spark.createDataFrame([(3, "b2"), (4, "b2")], "k long, v string")
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        load_file_stream_versioned(
            spark, str(src), root, conflict_columns=["k"],
            max_files_per_trigger=1,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        # v0 seed, v1 after batch 1, v2 after batch 2
        states = [
            {(r.k, r.v) for r in a.tt_read(spark, root, v).collect()}
            for v in range(3)
        ]
        assert states[0] == {(1, "seed"), (2, "seed")}
        assert states[1] == {(1, "seed"), (2, "b1"), (3, "b1")}
        assert states[2] == {(1, "seed"), (2, "b1"), (3, "b2"), (4, "b2")}

        # append mode: no keys, rows accumulate
        root2 = str(tmp_path / "ttstream2")
        a.tt_create(
            spark,
            spark.createDataFrame([(0, "seed")], "k long, v string"),
            root2,
        )
        load_file_stream_versioned(
            spark, str(src), root2, max_files_per_trigger=1,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )
        assert a.tt_read(spark, root2).count() == 5
        assert a.tt_history(spark, root2).count() == 3

    def test_checkpoint_resume_processes_only_new_files(self, spark, tmp_path):
        """A second drain over the same checkpoint skips already-
        committed batches: only the newly-arrived file commits a
        version — the exactly-once half of the at-least-once replay
        contract the docstring states."""
        import astro_spark as a
        from astro_spark.streaming import load_file_stream_versioned

        root = str(tmp_path / "ttresume")
        a.tt_create(
            spark, spark.createDataFrame([(0, "seed")], "k long, v string"), root
        )
        src = tmp_path / "in"
        ckpt = str(tmp_path / "ckpt")
        f1 = spark.createDataFrame([(1, "b1")], "k long, v string")
        _write_ordered_files(src, [f1])
        load_file_stream_versioned(
            spark, str(src), root, conflict_columns=["k"], checkpoint_dir=ckpt
        )
        assert a.tt_history(spark, root).count() == 2  # seed + batch 1
        # drain again with NOTHING new: no version committed
        load_file_stream_versioned(
            spark, str(src), root, conflict_columns=["k"], checkpoint_dir=ckpt
        )
        assert a.tt_history(spark, root).count() == 2
        # one new file arrives: exactly one more version
        f2 = spark.createDataFrame([(2, "b2")], "k long, v string")
        _write_ordered_files(src, [f1, f2])  # f1 content already present
        load_file_stream_versioned(
            spark, str(src), root, conflict_columns=["k"], checkpoint_dir=ckpt
        )
        hist = a.tt_history(spark, root).count()
        got = {(r.k, r.v) for r in a.tt_read(spark, root).collect()}
        assert (0, "seed") in got and (2, "b2") in got
        assert hist >= 3  # the new file committed

    def test_streaming_into_partitioned_root(self, spark, tmp_path):
        """Streaming ingest into a PARTITIONED versioned root (round
        13): each micro-batch's tt_append lays its files out per
        partition value through the foreachBatch clone session, and the
        manifest-pruned read scans only the asked partition."""
        import json as _json

        import astro_spark as a
        from astro_spark.streaming import load_file_stream_versioned

        root = str(tmp_path / "ptstream")
        a.tt_create(
            spark,
            spark.range(6).selectExpr("id AS k", "id % 2 AS r"),
            root,
            partition_by=["r"],
        )
        src = tmp_path / "src"
        spark.range(4).selectExpr("id + 100 AS k", "id % 2 AS r").coalesce(
            1
        ).write.parquet(str(src))
        load_file_stream_versioned(
            spark, str(src), root, checkpoint_dir=str(tmp_path / "ck")
        )
        assert a.tt_read(spark, root).count() == 10
        import os

        heads = sorted(
            f for f in os.listdir(root + "/_log") if f.endswith(".json")
        )
        m = _json.load(open(f"{root}/_log/{heads[-1]}"))
        # the appended batch's files are partition-split engine files
        appended = [f for f in m["files"] if "__p_r=" in f]
        assert len(appended) == len(m["files"])  # every file value-split
        pruned = a.tt_read(spark, root, where="r = 1")
        assert pruned.count() == 5
        assert len(pruned.inputFiles()) < len(m["files"])


class TestSemanticScreenStream:
    """Round-14 (VERDICT r13 #8): the embedding-based member of the
    ingest-screen family — IVF cell assignment against static centroids
    + cell-scoped cosine vs a persisted, cell-partitioned index."""

    C = [[1.0, 0.0], [0.0, 1.0]]

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (100, [1.0, 0.0]),   # cell 0
                (101, [0.0, 1.0]),   # cell 1
                (102, [0.6, 0.8]),   # cell 1
            ],
            "vec_id long, embedding array<double>",
        )

    def test_cell_scoped_screen_and_self_screen(self, spark, tmp_path):
        from astro_spark.streaming import (
            build_semantic_index,
            semantic_screen_stream,
        )

        novel = (90000, [0.8, 0.6])    # cell 0; cos vs 100 = 0.8 < thr
        twin = (90001, [0.8, 0.601])   # cell 0; cos vs novel ≈ 1.0
        hit = (90002, [0.62, 0.78])    # cell 1; cos vs 102 ≈ 0.9997
        f1 = spark.createDataFrame(
            [novel], "vec_id long, embedding array<double>"
        )
        f2 = spark.createDataFrame(
            [twin, hit], "vec_id long, embedding array<double>"
        )
        src = tmp_path / "in"
        _write_ordered_files(src, [f1, f2])
        idx = str(tmp_path / "sem_idx")
        build_semantic_index(self._corpus(spark), idx, centroids=self.C)
        n_idx0 = spark.read.parquet(idx).count()
        assert n_idx0 == 3

        blind = {
            (r.batch_id, r.corpus_id)
            for r in semantic_screen_stream(
                spark, str(src), idx, centroids=self.C, threshold=0.99,
                max_files_per_trigger=1,
            ).collect()
        }
        # cell scoping: 90002 is flagged ONLY against its cell-1
        # neighbor; novel+twin both pass (the documented blind spot) —
        # and the default mode leaves the index untouched
        assert blind == {(90002, 102)}
        assert spark.read.parquet(idx).count() == n_idx0

        caught = {
            (r.batch_id, r.corpus_id)
            for r in semantic_screen_stream(
                spark, str(src), idx, centroids=self.C, threshold=0.99,
                max_files_per_trigger=1, self_screen=True,
            ).collect()
        }
        assert caught == {(90001, 90000), (90002, 102)}
        # bounded state: acceptance grows the ON-DISK index only, and
        # only by the accepted (un-flagged) vectors — one here
        ids = {r.id for r in spark.read.parquet(idx).select("id").collect()}
        assert ids == {100, 101, 102, 90000}

    def test_drained_union_equals_one_shot(self, spark, tmp_path):
        """Per-item independence (default mode): a 2-batch drain equals
        the one-shot screen of all items against the drain-start index."""
        from astro_spark.functions.similarity import ivf_assign
        from astro_spark.streaming import (
            build_semantic_index,
            semantic_screen_stream,
        )

        items = [
            (9000 + i, [0.5 + 0.01 * i, 0.86 - 0.01 * i]) for i in range(8)
        ]
        f1 = spark.createDataFrame(
            items[:4], "vec_id long, embedding array<double>"
        )
        f2 = spark.createDataFrame(
            items[4:], "vec_id long, embedding array<double>"
        )
        src = tmp_path / "in2"
        _write_ordered_files(src, [f1, f2])
        idx = str(tmp_path / "sem_idx2")
        build_semantic_index(self._corpus(spark), idx, centroids=self.C)
        drained = {
            (r.batch_id, r.corpus_id, r.cos_sim)
            for r in semantic_screen_stream(
                spark, str(src), idx, centroids=self.C, threshold=0.9,
                max_files_per_trigger=1,
            ).collect()
        }
        # one-shot replay: same cell + unit-dot in plain DataFrame ops
        import numpy as np

        exp = set()
        corpus_rows = [
            (100, [1.0, 0.0], 0), (101, [0.0, 1.0], 1), (102, [0.6, 0.8], 1)
        ]
        for bid, v in items:
            cell = int(np.argmax([np.dot(v, c) / np.linalg.norm(v) for c in self.C]))
            for cid, cv, ccell in corpus_rows:
                if ccell != cell:
                    continue
                cs = round(
                    float(
                        np.dot(v, cv)
                        / (np.linalg.norm(v) * np.linalg.norm(cv))
                    ),
                    4,
                )
                if cs >= 0.9:
                    exp.add((bid, cid, cs))
        assert drained == exp


class TestDrain:
    """The shared drain (``streaming/drain.py``): CSV sources keep their
    header, a failing batch strands neither a stream nor a persisted
    frame, and a drain without a checkpoint dir leaves none behind."""

    @pytest.mark.parametrize("drain_fn", ["load_file_stream", "load_file_stream_merge"])
    def test_csv_drain_reads_header_like_load_file(self, spark, tmp_path, drain_fn):
        import astro_spark as a
        from astro_spark import streaming
        from astro_spark.operators.load_file import save_dataframe_as_table
        from astro_spark.sources.readers import read_file

        src = tmp_path / "csv_in"
        src.mkdir()
        (src / "part-0.csv").write_text("id,name\n1,a\n2,b\n")
        f = a.File(str(src), filetype=a.FileType.CSV)
        batch_dtypes = read_file(spark, f).dtypes
        assert batch_dtypes == [("id", "int"), ("name", "string")]

        if drain_fn == "load_file_stream":
            out = a.Table(f"csv_s_{tmp_path.name}")
            streaming.load_file_stream(spark, f, out, checkpoint_dir=str(tmp_path / "ck"))
        else:
            out = a.Table(f"csv_m_{tmp_path.name}", temp=False)
            save_dataframe_as_table(
                spark.createDataFrame([(1, "old"), (3, "c")], "id int, name string"), out
            )
            streaming.load_file_stream_merge(spark, f, out, ["id"])
        got = spark.table(out.qualified_name)
        assert got.dtypes == batch_dtypes
        rows = {r.id: r.name for r in got.collect()}
        if drain_fn == "load_file_stream":
            assert rows == {1: "a", 2: "b"}
        else:
            assert rows == {1: "a", 2: "b", 3: "c"}
            a.drop_table(spark, out)

    @pytest.mark.parametrize(
        "case", ["drift_ref", "minhash_corpus", "containment_corpus", "signature_batch"]
    )
    def test_failing_batch_releases_stream_and_persisted_frames(
        self, spark, tmp_path, monkeypatch, case
    ):
        """A batch body that raises: the drain surfaces the batch's error,
        leaves no active stream, and every frame the drain persisted (the
        drain-scoped reference/corpus state, or the batch-scoped frames)
        is released.  Persistent-RDD ids are compared as sets: cleanup of
        unrelated localCheckpoint RDDs can shrink the map meanwhile."""
        from pyspark.sql import functions as F

        from astro_spark.functions import dedup, sampling
        from astro_spark.streaming import (
            containment_screen_stream,
            drift_screen_stream,
            minhash_screen_stream,
            signature_screen_stream,
        )

        msg = f"injected batch failure ({case})"

        def boom(*args, **kwargs):
            raise RuntimeError(msg)

        docs = spark.createDataFrame(
            [(i, f"doc {i} shares words with its twin {i % 3}", 40 + 50 * i) for i in range(6)],
            "doc_id long, text string, n_chars long",
        )
        src = str(tmp_path / "in")
        docs.coalesce(1).write.parquet(src)
        if case == "drift_ref":
            monkeypatch.setattr(sampling, "distribution_drift", boom)
            run = lambda: drift_screen_stream(spark, src, docs)  # noqa: E731
        elif case == "minhash_corpus":
            monkeypatch.setattr(dedup, "minhash_incremental_pairs", boom)
            run = lambda: minhash_screen_stream(spark, src, corpus_df=docs)  # noqa: E731
        elif case == "containment_corpus":
            monkeypatch.setattr(dedup, "containment_incremental_pairs", boom)
            run = lambda: containment_screen_stream(spark, src, corpus_df=docs)  # noqa: E731
        else:
            idx = str(tmp_path / "sig_idx")
            docs.select(F.col("doc_id").alias("id"), F.col("n_chars").alias("sig")) \
                .write.parquet(idx)

            def materialize_then_fail(sigs, *args, **kwargs):
                sigs.count()  # the batch's persisted signatures are built
                raise RuntimeError(msg)

            monkeypatch.setattr(dedup, "hash_hamming_incremental_pairs", materialize_then_fail)
            run = lambda: signature_screen_stream(  # noqa: E731
                spark, src,
                lambda b: b.select(F.col("doc_id").alias("id"), F.col("n_chars").alias("sig")),
                idx,
            )

        def persistent_ids():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persistent_ids()
        with pytest.raises(Exception, match="injected batch failure") as err:
            run()
        assert msg in str(err.value)
        assert spark.streams.active == []
        assert persistent_ids() - before == set()

    @pytest.mark.parametrize("fail", [False, True])
    def test_drain_without_checkpoint_dir_leaves_none_behind(
        self, spark, tmp_path, monkeypatch, fail
    ):
        import tempfile as _tempfile

        from astro_spark.functions import sketches
        from astro_spark.streaming import kmv_stream

        src = str(tmp_path / "in")
        spark.createDataFrame([("alpha beta gamma",), ("delta epsilon",)], "text string") \
            .repartition(2).write.parquet(src)
        tmp_root = tmp_path / "tmp"
        tmp_root.mkdir()
        monkeypatch.setattr(_tempfile, "tempdir", str(tmp_root))
        if fail:
            def boom(*args, **kwargs):
                raise RuntimeError("injected batch failure")

            monkeypatch.setattr(sketches, "shingle_fingerprints", boom)
            with pytest.raises(Exception, match="injected batch failure"):
                kmv_stream(spark, src, max_files_per_trigger=1)
        else:
            assert kmv_stream(spark, src, max_files_per_trigger=1).collect()[0].k_used > 0
        assert list(tmp_root.iterdir()) == []
        assert spark.streams.active == []
