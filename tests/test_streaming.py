"""Structured Streaming tier tests.

The windowed aggregation is checked against the equivalent batch
computation; the stateful quota stream is checked event-for-event
against the pure-Python QuotaTracker (the reference's exact
admit/record semantics, p4/server/my_quota_tracker.cc:44-77).
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.operators.quota import QuotaTracker
from operating_system_map_reduce_spark.sources import tables
from operating_system_map_reduce_spark.sources.tables import load_events
from operating_system_map_reduce_spark.streaming import quota_stream, windows

SF = "/root/testdata/sf0.001"


class TestStreamDedup:
    def test_matches_batch_distinct_and_drops_dupes(self, spark):
        """dropDuplicatesWithinWatermark over the bounded replay is an
        exact distinct on (hour bucket, user, type) -- and the events
        table genuinely contains duplicates, so the op does work."""
        got = [(r["window_start_us"], r["user_id"], r["event_type"])
               for r in windows.run_dedup_first_seen(spark, SF).collect()]
        width = 3_600_000_000
        ev = load_events(spark, SF)
        want = sorted(
            (r["w"], r["user_id"], r["event_type"])
            for r in ev.select(
                (F.col("ts_us") - F.col("ts_us") % width).alias("w"),
                "user_id", "event_type").distinct().collect()
        )
        assert got == want
        assert len(got) < ev.count(), "no duplicates in fixture; test is vacuous"


class TestWindowedCounts:
    def test_matches_batch_windowing(self, spark):
        got = {
            (r["window_start_us"], r["event_type"]): (r["n"], r["sum_value"])
            for r in windows.run_windowed_counts(spark, SF).collect()
        }
        width = 3_600_000_000
        want = {
            (r["w"], r["event_type"]): (r["n"], r["sum_value"])
            for r in (
                load_events(spark, SF)
                .groupBy((F.floor(F.col("ts_us") / width) * width).alias("w"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            ).collect()
        }
        assert set(got) == set(want)
        for k, (n, s) in want.items():
            assert got[k][0] == n
            assert abs(got[k][1] - s) < 1e-6


class TestEventsStreamStaging:
    def test_source_is_staged_under_the_exit_removed_root(
            self, spark, sf_dir, monkeypatch):
        """events_stream reads its symlinked source directory from under
        the streaming scratch root, which is removed at interpreter
        exit; nothing is written into the checkout."""
        import os
        import pathlib

        from pyspark.sql.streaming import DataStreamReader

        from operating_system_map_reduce_spark.streaming import scratch_root

        read, parquet = [], DataStreamReader.parquet

        def spy(self, path, **options):
            read.append(path)
            return parquet(self, path, **options)

        monkeypatch.setattr(DataStreamReader, "parquet", spy)
        checkout = pathlib.Path(__file__).resolve().parents[1] / ".scratch"
        before = set(checkout.rglob("*"))
        windows.events_stream(spark, sf_dir)
        root = scratch_root()
        assert len(read) == 1
        assert os.path.commonpath([read[0], root]) == root, (read, root)
        assert os.listdir(read[0])
        assert set(checkout.rglob("*")) == before


MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
PARTITIONS_KEY = "spark.sql.shuffle.partitions"


def _checkpoint_manager(spark, path) -> str:
    """The class of the checkpoint file manager Spark builds for
    ``path`` from the session's Hadoop conf, as a streaming query does."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf())
    return manager.getClass().getSimpleName()


class TestBoundedReplayScope:
    """A bounded replay scopes two session keys: the state partitions and
    the FileSystem checkpoint file manager, whose local rename starts no
    process.  Each key comes back as it was after the replay, unset
    included, also when the replay raises."""

    def test_keys_are_scoped_and_restored_when_the_body_raises(self, spark, tmp_path):
        assert spark.conf.get(MANAGER_KEY, None) is None
        partitions = spark.conf.get(PARTITIONS_KEY)
        assert _checkpoint_manager(spark, tmp_path) == "FileContextBasedCheckpointFileManager"
        with pytest.raises(ZeroDivisionError):
            with windows._bounded_replay(spark):
                assert spark.conf.get(PARTITIONS_KEY) == str(
                    min(int(partitions), windows.STREAM_STATE_PARTITIONS))
                assert (_checkpoint_manager(spark, tmp_path)
                        == "FileSystemBasedCheckpointFileManager")
                1 / 0
        assert spark.conf.get(PARTITIONS_KEY) == partitions
        assert spark.conf.get(MANAGER_KEY, None) is None
        assert _checkpoint_manager(spark, tmp_path) == "FileContextBasedCheckpointFileManager"

    def test_a_set_manager_and_an_unset_partition_count_come_back(self, spark):
        partitions = spark.conf.get(PARTITIONS_KEY)
        own = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileContextBasedCheckpointFileManager")
        spark.conf.set(MANAGER_KEY, own)
        spark.conf.unset(PARTITIONS_KEY)
        try:
            with windows._bounded_replay(spark):
                assert spark.conf.get(MANAGER_KEY).endswith(
                    ".FileSystemBasedCheckpointFileManager")
                assert spark.conf.get(PARTITIONS_KEY) == str(windows.STREAM_STATE_PARTITIONS)
            assert spark.conf.get(MANAGER_KEY) == own
            assert spark.conf.get(PARTITIONS_KEY, None) is None
        finally:
            spark.conf.unset(MANAGER_KEY)
            spark.conf.set(PARTITIONS_KEY, partitions)


class TestSessionWindows:
    def test_gap_boundary_semantics(self, spark):
        """An event at exactly prev + gap still MERGES (the merge test
        is ts <= session end); only a strictly larger gap opens a new
        session.  Pinned with the batch face of the same session_window
        operator (identical semantics to the streaming run, which
        test_oracle_parity covers end-to-end)."""
        gap_us = windows.SESSION_GAP_US
        rows = [
            ("u1", 0), ("u1", gap_us - 1),         # merge: one session
            ("u1", 2 * gap_us - 1),                # chains the session
            ("u2", 0), ("u2", gap_us),             # exact gap: still merges
            ("u2", 2 * gap_us + 1),                # gap exceeded: new session
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts_us"]).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        )
        got = sorted(
            (r["user_id"], r["start"], r["end"])
            for r in df.groupBy(
                F.session_window("ts", windows.SESSION_GAP).alias("w"), "user_id"
            ).agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.unix_micros("w.start").alias("start"),
                F.unix_micros("w.end").alias("end"),
            ).collect()
        )
        assert got == [
            ("u1", 0, 3 * gap_us - 1),
            ("u2", 0, 2 * gap_us),
            ("u2", 2 * gap_us + 1, 3 * gap_us + 1),
        ]


class TestQuotaStream:
    def test_matches_pure_python_tracker(self, spark):
        rows = (load_events(spark, SF)
                .select("user_id", "event_id", "ts_us", "value")
                .collect())
        per_user = defaultdict(list)
        for r in rows:
            per_user[r["user_id"]].append((r["ts_us"], r["event_id"], r["value"]))
        want = {}
        for uid, evs in per_user.items():
            tracker = QuotaTracker(quota_stream.QUOTA_MAX,
                                   quota_stream.WINDOW_US)
            adm = rej = 0
            amt = 0.0
            for ts, _eid, v in sorted(evs):
                if tracker.check_add(v, ts):
                    adm += 1
                    amt += v
                else:
                    rej += 1
            want[uid] = (adm, rej, amt)

        got = {
            r["user_id"]: (r["n_admitted"], r["n_rejected"], r["admitted_amount"])
            for r in quota_stream.run_quota_admission(spark, SF).collect()
        }
        assert set(got) == set(want)
        for uid, (adm, rej, amt) in want.items():
            assert got[uid][0] == adm, f"user {uid} admitted"
            assert got[uid][1] == rej, f"user {uid} rejected"
            assert abs(got[uid][2] - amt) < 1e-6

    def test_rejected_events_not_recorded(self):
        """The reference's core quirk: a rejected charge leaves no trace."""
        t = QuotaTracker(10, 100.0)
        assert t.check_add(8, 0.0)
        assert not t.check_add(5, 1.0)   # would exceed -> rejected
        assert t.check_add(2, 2.0)       # rejection did not consume quota
        assert not t.check_add(1, 3.0)
        # window expiry frees the first charge
        assert t.check_add(8, 101.0)


class TestMruStream:
    def test_fold_matches_declarative_closure(self):
        """Randomized differential: the reference fold (remove-if-
        present, append, cap-evict) must equal 'top K distinct types by
        last occurrence' -- the closure the DuckDB oracle asserts."""
        import random

        from operating_system_map_reduce_spark.streaming.mru_stream import (
            MRU_K, mru_fold)

        for seed in range(30):
            rng = random.Random(seed)
            events = [(t, f"e{rng.randint(0, 9)}")
                      for t in range(rng.randint(1, 60))]
            ts_l, et_l = [], []
            mru_fold(ts_l, et_l, events)
            last = {}
            for t, et in events:
                last[et] = t
            want = [et for et, _ in
                    sorted(last.items(), key=lambda kv: (-kv[1], kv[0]))[:MRU_K]]
            # fold keeps most-recent LAST; ties impossible here (unique ts)
            assert list(reversed(et_l)) == want, (seed, events)

    def test_fold_is_incremental(self):
        """Splitting the same event sequence across two trigger folds
        gives the same state as one fold -- the multi-trigger replay
        contract."""
        from operating_system_map_reduce_spark.streaming.mru_stream import mru_fold

        events = [(t, f"e{(t * 7) % 6}") for t in range(40)]
        one_ts, one_et = [], []
        mru_fold(one_ts, one_et, events)
        two_ts, two_et = [], []
        mru_fold(two_ts, two_et, events[:23])
        mru_fold(two_ts, two_et, events[23:])
        assert (one_ts, one_et) == (two_ts, two_et)


def _trigger(fn, schema, value, rows: list[tuple], columns: list[str]):
    """One trigger of a stateful face's group function, with its state
    crossing to the JVM and back as the pandas-with-state serializer
    sends it: the pickled internal row.  Returns (state, output)."""
    import pandas as pd
    from pyspark.serializers import CPickleSerializer
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state = GroupState(
        optionalValue=value, batchProcessingTimeMs=0, eventTimeWatermarkMs=-1,
        timeoutConf=GroupStateTimeout.NoTimeout, hasTimedOut=False,
        watermarkPresent=False, defined=value is not None, updated=False,
        removed=False, timeoutTimestamp=-1, keyAsUnsafe=b"", valueSchema=schema)
    pdf = pd.DataFrame(rows, columns=columns).astype(
        {"event_id": "int64", "ts_us": "int64"})
    out = pd.concat(fn((7,), iter([pdf]), state), ignore_index=True)
    ser = CPickleSerializer()
    return ser.loads(ser.dumps(schema.toInternal(state._value))), out


class TestStateEncoding:
    """The stateful faces keep their per-user lists as JSON text; the
    lists survive a trigger boundary exactly: empty state, int64 ts at
    both ends of the range, float amounts, non-ASCII event types."""

    TS = [-(2 ** 63), -5, 0, 2 ** 53 + 1, 2 ** 63 - 1]

    def test_mru_state_round_trips_exactly(self):
        import json

        from operating_system_map_reduce_spark.streaming import mru_stream as m

        types = ["café", "日本語", "🎉", "a\"b\\c", ""]
        rows = [(i, ts, et) for i, (ts, et) in enumerate(zip(self.TS, types))]
        rows += [(9, 2 ** 62, "日本語")]
        cols = ["event_id", "ts_us", "event_type"]
        value, out = _trigger(m._mru_group, m.STATE_SCHEMA, None, [], cols)
        assert value == ("[]", "[]", 0) and out.empty
        for cut in (0, 3, len(rows)):
            value, _ = _trigger(m._mru_group, m.STATE_SCHEMA, None, [], cols)
            value, _ = _trigger(m._mru_group, m.STATE_SCHEMA, value,
                                rows[:cut], cols)
            value, out = _trigger(m._mru_group, m.STATE_SCHEMA, value,
                                  rows[cut:], cols)
            ts_l, et_l = [], []
            m.mru_fold(ts_l, et_l, sorted((ts, et) for _, ts, et in rows))
            assert (json.loads(value[0]), json.loads(value[1]), value[2]) == (
                ts_l, et_l, len(rows))
            assert all(type(t) is int for t in json.loads(value[0]))
            assert out["event_type"].tolist() == et_l[::-1]

    def test_quota_state_round_trips_exactly(self):
        import json

        from operating_system_map_reduce_spark.streaming import quota_stream as q

        cols = ["event_id", "ts_us", "value"]
        value, out = _trigger(q._admit_group, q.STATE_SCHEMA, None, [], cols)
        assert value == ("[]", "[]") and out["n_admitted"].tolist() == [0]
        floats = [0.1, 1 / 3, 1e-300, 2.5]
        cases = [
            # more than a window apart: only the last event stays live
            (self.TS, floats + [7.0], ([2 ** 63 - 1], [7.0])),
            # inside one window: every admitted event stays live
            ([-3, -2, -1, 0], floats, ([-3, -2, -1, 0], floats)),
        ]
        for ts, amts, want in cases:
            rows = [(i, t, a) for i, (t, a) in enumerate(zip(ts, amts))]
            for cut in (0, 2, len(rows)):
                value, _ = _trigger(q._admit_group, q.STATE_SCHEMA, None, [],
                                    cols)
                value, a = _trigger(q._admit_group, q.STATE_SCHEMA, value,
                                    rows[:cut], cols)
                value, b = _trigger(q._admit_group, q.STATE_SCHEMA, value,
                                    rows[cut:], cols)
                assert (json.loads(value[0]), json.loads(value[1])) == want
                assert a["n_admitted"][0] + b["n_admitted"][0] == len(rows)
                assert (a["admitted_amount"][0], b["admitted_amount"][0]) == (
                    sum(amts[:cut]), sum(amts[cut:]))


class TestStatefulFaceTypes:
    """The stateful faces' output columns keep their Spark types and the
    pandas dtype kinds a collected frame has (the oracle gate compares
    frames): a pandas or pyspark upgrade that turns an int64 column into
    float or object fails here first."""

    @pytest.mark.parametrize("face, want", [
        ("stream_mru_types", {"user_id": ("bigint", "i"),
                              "mru_rank": ("bigint", "i"),
                              "event_type": ("string", "O")}),
        ("stream_quota_admission", {"user_id": ("bigint", "i"),
                                    "n_admitted": ("bigint", "i"),
                                    "n_rejected": ("bigint", "i"),
                                    "admitted_amount": ("double", "f")}),
    ])
    def test_output_types_are_pinned(self, spark, face, want):
        from operating_system_map_reduce_spark.plans import streamqueries

        df = getattr(streamqueries, face)(spark, SF)
        pdf = df.toPandas()
        assert len(pdf), f"{face} emitted no rows; the kinds are unchecked"
        got = {f.name: (f.dataType.simpleString(), pdf[f.name].dtype.kind)
               for f in df.schema}
        assert got == want


class TestMemorySinkViews:
    """A replay into a memory sink leaves no temp view behind (the view
    would hold the sink's rows for the life of the session), and the
    frame it returns still reads the sink's rows."""

    @pytest.mark.parametrize("face", [
        "stream_windowed_counts", "stream_dedup_first_seen",
        "stream_session_counts", "stream_quota_admission",
        "stream_enrich_revenue", "stream_topk_trending", "stream_mru_types",
        "stream_click_purchase_join",
    ])
    def test_replay_drops_its_view_and_keeps_its_rows(self, spark, face):
        import __spark_entry__ as entrymod
        from tests.oracle_utils import compare, run_oracle

        def views():
            return {t.name for t in spark.catalog.listTables() if t.isTemporary}

        before = views()
        df = entrymod.queries()[face](spark, SF)
        assert views() == before
        problems = compare(df, run_oracle(entrymod.oracle_sql()[face], SF))
        assert not problems, problems


class TestChangelogStreamSink:
    def test_streamed_appends_replay_identically(self, spark, tmp_path):
        """Round-6 sink: mutations streamed through the Structured
        Streaming sink must replay exactly like the same mutations
        appended through the driver-side write path, and the two write
        paths must interleave safely in one log."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import (
            ChangeLog, ChangelogStreamSink,
        )

        def rec(seq, op, key, value=b""):
            return {"seq": seq, "op": op, "key": key, "value": value}

        def snap(df):
            return sorted((r["key"], bytes(r["value"])) for r in
                          df.select("key", "value").collect())

        muts1 = [rec(i, "insert", f"k{i}", str(i).encode()) for i in range(1, 6)]
        muts2 = [rec(6, "update", "k2", b"two"), rec(7, "delete", "k3"),
                 rec(8, "insert", "k9", b"nine")]

        # reference behavior: the same mutations through the driver path
        ref = ChangeLog(spark, str(tmp_path / "ref"), KV_SCHEMA, key_col="key")
        ref.append(muts1)
        ref.append(muts2)

        # streamed path: mutations arrive as parquet files in a source
        # dir (any readStream source works; files are the simplest)
        src_dir = tmp_path / "mutations"
        src_dir.mkdir()

        def emit(name, rows):
            pq.write_table(pa.table(
                {k: [r[k] for r in rows] for k in ("seq", "op", "key", "value")},
                schema=pa.schema([pa.field("seq", pa.int64()),
                                  pa.field("op", pa.string()),
                                  pa.field("key", pa.string()),
                                  pa.field("value", pa.binary())])),
                str(src_dir / name))

        emit("m1.parquet", muts1)
        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        sink = ChangelogStreamSink(log)
        stream = spark.readStream.schema(KV_SCHEMA).parquet(str(src_dir))
        sink.ingest_available(stream)
        assert snap(log.replay()) == sorted(
            (f"k{i}", str(i).encode()) for i in range(1, 6))

        # second wave resumes from the checkpoint: only m2 is processed
        emit("m2.parquet", muts2)
        sink.ingest_available(
            spark.readStream.schema(KV_SCHEMA).parquet(str(src_dir)))
        assert snap(log.replay()) == snap(ref.replay())
        got = snap(log.replay())
        assert ("k2", b"two") in got and all(k != "k3" for k, _ in got)

        # interleave: a driver-side append lands in the same log and
        # wins by seq over the streamed state
        log.append([rec(9, "update", "k9", b"NINE")])
        ref.append([rec(9, "update", "k9", b"NINE")])
        assert snap(log.replay()) == snap(ref.replay())

        # compaction works over streamed files too
        log.compact()
        assert snap(log.replay()) == snap(ref.replay())


class TestStreamStreamJoin:
    def test_plans_as_symmetric_hash_join_with_state(self, spark):
        """The click->purchase attribution must be a REAL stream-stream
        join (StreamingSymmetricHashJoin with watermark-derived state
        eviction), not a batch join in disguise."""
        from operating_system_map_reduce_spark.streaming.windows import (
            click_purchase_join, events_stream,
        )
        from pyspark.sql import functions as F

        ev = events_stream(spark, "/root/testdata/sf0.001")
        joined = click_purchase_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"))
        assert joined.isStreaming
        sink = "ssjoin_plan_probe"
        q = (joined.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        last = q.lastProgress
        # the progress report names the stateful operator
        ops = [op["operatorName"] for op in last["stateOperators"]]
        assert "symmetricHashJoin" in ops, ops


class TestSinkCrashRecovery:
    def test_replayed_batch_after_crash_is_idempotent(self, spark, tmp_path):
        """Kill-and-restart through the crash window that matters: the
        sink wrote a batch's part-files into the log but the checkpoint
        COMMIT never landed (a crash injected inside foreachBatch right
        after the sink write -- Spark WALs offsets BEFORE the batch and
        commits AFTER, so this is exactly the torn state a real kill
        leaves).  The restarted stream re-processes that batch and
        writes the same records again.  Replay must equal the
        no-failure result -- latest-seq-per-key dedup absorbs the
        duplicate -- and the raw log must show the overlap actually
        happened (the test would prove nothing if the re-run were
        skipped)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import (
            ChangeLog, ChangelogStreamSink,
        )

        def rec(seq, op, key, value=b""):
            return {"seq": seq, "op": op, "key": key, "value": value}

        def snap(df):
            return sorted((r["key"], bytes(r["value"])) for r in
                          df.select("key", "value").collect())

        muts1 = [rec(i, "insert", f"k{i}", str(i).encode()) for i in range(1, 6)]
        muts2 = [rec(6, "update", "k2", b"two"), rec(7, "delete", "k3")]

        ref = ChangeLog(spark, str(tmp_path / "ref"), KV_SCHEMA, key_col="key")
        ref.append(muts1)
        ref.append(muts2)

        src_dir = tmp_path / "mutations"
        src_dir.mkdir()

        def emit(name, rows):
            pq.write_table(pa.table(
                {k: [r[k] for r in rows] for k in ("seq", "op", "key", "value")},
                schema=pa.schema([pa.field("seq", pa.int64()),
                                  pa.field("op", pa.string()),
                                  pa.field("key", pa.string()),
                                  pa.field("value", pa.binary())])),
                str(src_dir / name))

        emit("m1.parquet", muts1)
        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        sink = ChangelogStreamSink(log)
        real_sink_batch = sink._sink_batch
        wrote = {"n": 0}

        def crash_after_write(batch, batch_id):
            real_sink_batch(batch, batch_id)
            wrote["n"] += 1
            raise RuntimeError("injected crash: sink wrote, commit pending")

        sink._sink_batch = crash_after_write
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException):
            sink.ingest_available(
                spark.readStream.schema(KV_SCHEMA).parquet(str(src_dir)))
        assert wrote["n"] == 1, "crash must fire after the sink write"
        assert log.raw().count() == len(muts1)  # torn: data in, no commit

        # restart with a FRESH sink object on the same checkpoint -- the
        # uncommitted batch replays, then the new wave processes
        emit("m2.parquet", muts2)
        sink2 = ChangelogStreamSink(log)
        sink2.ingest_available(
            spark.readStream.schema(KV_SCHEMA).parquet(str(src_dir)))

        # the uncommitted batch really was re-processed: its records
        # appear twice in the raw log
        assert log.raw().count() == 2 * len(muts1) + len(muts2)
        # ...and replay equals the no-failure result regardless
        assert snap(log.replay()) == snap(ref.replay())
        got = snap(log.replay())
        assert ("k2", b"two") in got and all(k != "k3" for k, _ in got)

        # compaction after recovery also matches
        log.compact()
        assert snap(log.replay()) == snap(ref.replay())


class TestNoveltyStream:
    def test_seed_bands_match_direct_signature(self, spark, sf_dir):
        """The r13 seed-index re-plan (the r12 queue's zero-seat item
        4): seed bands now derive from the at-rest bucketed signature
        filtered to the corpus.  b_sig is per-doc, so the filter
        commutes with the signature -- the rows must be IDENTICAL to
        the direct per-session Python recompute this replaced."""
        from operating_system_map_reduce_spark.operators import dedup as _dd
        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_signature)
        from operating_system_map_reduce_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = docs.filter(~(F.col("doc_id") % 10 == 7))
        old = sorted(map(tuple, _dd.lsh_bands(_dd.minhash_signature(corpus))
                         .select("band_idx", "band_hash")
                         .distinct().collect()))
        sig = bucketed_signature(spark, sf_dir).join(
            corpus.select("doc_id"), "doc_id", "left_semi")
        new = sorted(map(tuple, _dd.lsh_bands(sig)
                         .select("band_idx", "band_hash")
                         .distinct().collect()))
        assert new == old
        assert len(new) > 0

    def test_batch_bands_match_direct_signature(self, spark, sf_dir):
        """The r15 wave-band re-plan, twin of the seed pin above: the
        arriving waves' bands now derive from the same at-rest
        signature table, filtered to the BATCH docs.  Per-doc rows --
        (doc_id, band_idx, band_hash) this time, since the cascade
        probes and appends per wave -- must be IDENTICAL to the
        per-wave Python minhash recompute they replace."""
        from operating_system_map_reduce_spark.operators import dedup as _dd
        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_signature)
        from operating_system_map_reduce_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        batch = docs.filter(F.col("doc_id") % 10 == 7)
        old = sorted(map(tuple, _dd.lsh_bands(_dd.minhash_signature(batch))
                         .select("doc_id", "band_idx", "band_hash")
                         .collect()))
        sig = bucketed_signature(spark, sf_dir).join(
            batch.select("doc_id"), "doc_id", "left_semi")
        new = sorted(map(tuple, _dd.lsh_bands(sig)
                         .select("doc_id", "band_idx", "band_hash")
                         .collect()))
        assert new == old
        assert len(new) > 0

    def test_run_leaves_no_directory_outside_an_exit_removed_root(
            self, spark, sf_dir, monkeypatch):
        """Every directory a run creates is either removed by the run or
        sits under a root registered for removal at interpreter exit --
        the session-cached seed index and staged waves included."""
        import atexit
        import os
        import shutil
        import tempfile

        from operating_system_map_reduce_spark import streaming
        from operating_system_map_reduce_spark.streaming import (
            novelty_stream as ns)

        made, roots = [], []
        mkdtemp, register = tempfile.mkdtemp, atexit.register

        def recording_mkdtemp(*a, **k):
            made.append(mkdtemp(*a, **k))
            return made[-1]

        def recording_register(fn, *a, **k):
            if fn is shutil.rmtree:
                roots.append(a[0])
            return register(fn, *a, **k)

        monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
        monkeypatch.setattr(atexit, "register", recording_register)
        # cold caches and no root yet: the run creates every directory
        monkeypatch.setattr(tables, "_DERIVED", {})
        monkeypatch.setattr(streaming, "_SCRATCH_ROOT", [])
        assert ns.run_novelty_stream(spark, sf_dir).count() > 0
        assert made
        leaked = [d for d in made if os.path.exists(d) and not any(
            os.path.commonpath([d, r]) == r for r in roots)]
        assert not leaked, (leaked, roots)

    def test_restaging_keeps_the_previous_wave_files(self, spark, sf_dir,
                                                     tmp_path, monkeypatch):
        """A new staging key (here: documents.parquet rewritten) stages
        afresh but leaves the previous files in place: a stream may still
        be replaying them.  They go with the exit-removed root."""
        import os
        import shutil

        from operating_system_map_reduce_spark.sources.tables import load_table
        from operating_system_map_reduce_spark import streaming
        from operating_system_map_reduce_spark.streaming import (
            novelty_stream as ns)

        copy = str(tmp_path / "sf")
        shutil.copytree(sf_dir, copy)
        monkeypatch.setattr(tables, "_DERIVED", {})

        def stage():
            docs = load_table(spark, copy, "documents").select("doc_id", "text")
            return ns._staged_waves(spark, copy, docs, F.col("doc_id") % 10 == 7)

        first, waves = stage()
        docs_path = os.path.join(copy, "documents.parquet")
        st = os.stat(docs_path)
        os.utime(docs_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        second, _ = stage()
        assert second != first
        assert sorted(os.listdir(first)) == [f"wave-{w}.parquet" for w in waves]

    def test_micro_batch_reading_two_wave_files_raises(self, spark, sf_dir,
                                                       monkeypatch):
        """Each micro-batch must read exactly its own wave file; one
        that picks up two would be probed against one wave's bands and
        admit the other wave's documents unchecked."""
        from pyspark.sql.streaming import DataStreamReader

        from operating_system_map_reduce_spark import streaming
        from operating_system_map_reduce_spark.streaming import (
            novelty_stream as ns)

        option = DataStreamReader.option

        def two_files_per_trigger(self, key, value):
            return option(self, key, 2 if key == "maxFilesPerTrigger" else value)

        monkeypatch.setattr(DataStreamReader, "option", two_files_per_trigger)
        with pytest.raises(Exception, match="micro-batch 0 read"):
            ns.run_novelty_stream(spark, sf_dir)

    def test_cascade_rejects_dup_of_earlier_admission(self, spark,
                                                      tmp_path):
        """The property the one-shot batch probe cannot express: a
        wave-1 document duplicating a document ADMITTED in wave 0 (and
        absent from the corpus) must be rejected, because admission
        updated the standing index between waves."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from operating_system_map_reduce_spark.streaming.novelty_stream import (
            run_novelty_stream,
        )

        base = ("alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu nu xi omicron pi rho sigma tau ") * 4
        corpus_text = ("one two three four five six seven eight nine "
                       "ten eleven twelve ") * 4
        rows = [
            # corpus (doc_id % 10 != 7)
            (1, corpus_text), (2, "totally different corpus words " * 8),
            # wave 0 ((doc_id div 10) % 3 == 0)
            (7, base),                       # novel -> admitted
            (37, corpus_text),               # exact corpus dup -> rejected
            # wave 1
            (17, base),                      # exact dup of ADMITTED 7
            (47, base + "omega"),            # near-dup of admitted 7
            # wave 2
            (27, "entirely novel third wave text " * 8),  # admitted
        ]
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["test"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }), str(tmp_path / "documents.parquet"))

        got = {r["doc_id"]: r for r in
               run_novelty_stream(spark, str(tmp_path)).collect()}
        assert set(got) == {7, 17, 27, 37, 47}
        assert got[7]["admitted"] == 1 and got[7]["wave"] == 0
        assert got[37]["exact_dup"] == 1 and got[37]["admitted"] == 0
        # the cascade: 17 duplicates nothing in the CORPUS, only the
        # wave-0 admission -- still rejected
        assert got[17]["wave"] == 1
        assert got[17]["exact_dup"] == 1 and got[17]["admitted"] == 0
        # near-dup of the admission: caught by the band index
        assert got[47]["n_band_hits"] > 0 and got[47]["admitted"] == 0
        assert got[27]["admitted"] == 1 and got[27]["wave"] == 2

    def test_compaction_is_admission_equivalent(self, spark, tmp_path):
        """The standing index's SAV: a
        crawl appends one commit per wave, accruing one small file per
        wave per kind; compaction must shrink the file count WITHOUT
        changing the index row SET -- every admission verdict is a
        pure join against that set, so set equality IS admission
        equivalence."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from operating_system_map_reduce_spark.streaming.novelty_stream import (
            compact_novelty_index, run_novelty_stream,
        )

        base = ("alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu nu xi omicron pi rho sigma tau ") * 4
        rows = [
            (1, "one two three four five six seven eight nine ten " * 5),
            (2, "totally different corpus words " * 8),
            (7, base),                                    # wave 0: admitted
            (17, "second novel admission wave one text " * 8),   # wave 1
            (27, "entirely novel third wave text " * 8),          # wave 2
        ]
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["test"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }), str(tmp_path / "documents.parquet"))

        index_dir = str(tmp_path / "index")
        got = {r["doc_id"]: r["admitted"] for r in
               run_novelty_stream(spark, str(tmp_path),
                                  index_out_dir=index_dir).collect()}
        assert got == {7: 1, 17: 1, 27: 1}  # three waves, three appends

        def rowset(d):
            return {(r["kind"], r["band_idx"], r["band_hash"], r["h"])
                    for r in spark.read.parquet(d).collect()}

        pre = rowset(index_dir)
        stats = compact_novelty_index(spark, index_dir, files_per_kind=1)
        assert rowset(index_dir) == pre
        assert stats["rows"] == len(pre)
        # seed commit + one commit per admitting wave, per kind -> the
        # rewrite must strictly shrink, down to <= files_per_kind per kind
        assert stats["files_before"] >= 2 * (1 + 3)
        assert stats["files_after"] <= 2
        assert stats["files_after"] < stats["files_before"]
        # idempotent: a second pass keeps the set and the layout bound
        stats2 = compact_novelty_index(spark, index_dir, files_per_kind=1)
        assert rowset(index_dir) == pre
        assert stats2["files_after"] <= 2


class TestSinkContinuousMode:
    def test_start_ingests_and_stops_cleanly(self, spark, tmp_path):
        """The continuous (non-AvailableNow) sink face: start() returns
        a live StreamingQuery that drains arriving files into the log;
        stop() leaves a replayable log behind."""
        import time

        import pyarrow as pa
        import pyarrow.parquet as pq

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import (
            ChangeLog, ChangelogStreamSink,
        )

        src = tmp_path / "mutations"
        src.mkdir()
        pq.write_table(pa.table(
            {"seq": [1, 2], "op": ["insert", "insert"],
             "key": ["a", "b"], "value": [b"1", b"2"]},
            schema=pa.schema([pa.field("seq", pa.int64()),
                              pa.field("op", pa.string()),
                              pa.field("key", pa.string()),
                              pa.field("value", pa.binary())])),
            str(src / "w1.parquet"))

        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        sink = ChangelogStreamSink(log)
        q = sink.start(spark.readStream.schema(KV_SCHEMA).parquet(str(src)))
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                got = sorted((r["key"], bytes(r["value"]))
                             for r in log.replay()
                             .select("key", "value").collect())
                if got == [("a", b"1"), ("b", b"2")]:
                    break
                time.sleep(0.5)
            else:
                raise AssertionError("continuous sink never landed the batch")
        finally:
            q.stop()
        # the landed log replays identically after the query is gone
        assert sorted((r["key"], bytes(r["value"])) for r in
                      log.replay().select("key", "value").collect()) == \
            [("a", b"1"), ("b", b"2")]
