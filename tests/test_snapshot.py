"""The changelog snapshot (sources/changelog.py) against replay().

A snapshot is its pinned files plus driver-side indexes over them: the
key-sorted base, the spill (log files indexed by their footers, empty
unless the log outgrew the overlay's byte budget or a record did not
sort after the base), the footer index of base ∪ spill, the overlay of
the other log files and a memo exact for base ∪ spill.  Point reads go
overlay, memo, then the row groups of base ∪ spill whose footer range
holds the key, and never start a Spark job.  Nothing is checkpointed.
Every answer must equal what a fresh ``ChangeLog.replay()`` over the
files says, whatever spills, compactions and other engines' appends
came before.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from operating_system_map_reduce_spark import codes
from operating_system_map_reduce_spark.engine import KV_SCHEMA, KVEngine
from operating_system_map_reduce_spark.sources import changelog
from operating_system_map_reduce_spark.sources.changelog import ChangeLog, ChangelogStreamSink

from tests.test_kv_engine import spark_jobs

PW = ("alice", "pw")


def _replayed(spark, root: str) -> dict[str, bytes]:
    log = ChangeLog(spark, root, KV_SCHEMA, key_col="key")
    return {r["key"]: bytes(r["value"]) for r in log.replay().collect()}


class TestDifferential:
    def test_two_engines_match_replay_after_every_op(self, spark, tmp_path):
        d = str(tmp_path / "data")
        engines = [KVEngine(spark, d, req_quota=1 << 30, up_quota=1 << 30,
                            down_quota=1 << 30) for _ in range(2)]
        assert engines[0].add_user(*PW)[1] == codes.RES_OK
        keys = [f"k{i:02d}" for i in range(20)]
        rng = random.Random(7)
        for step in range(36):
            eng = rng.choice(engines)
            op = rng.choice(["kvi", "kvu", "kvu", "kvd", "sav"] if step % 9 == 8
                            else ["kvi", "kvu", "kvu", "kvd"])
            key, value = rng.choice(keys), f"{step}".encode()
            if op == "kvi":
                eng.kv_insert(*PW, key, value)
            elif op == "kvu":
                eng.kv_upsert(*PW, key, value)
            elif op == "kvd":
                eng.kv_delete(*PW, key)
            else:
                assert eng.save_file(*PW)[1] == codes.RES_OK
            want = _replayed(spark, str(tmp_path / "data" / "kv"))
            for i, e in enumerate(engines):
                got = {}
                for k in keys:
                    ok, code, val = e.kv_get(*PW, k)
                    assert code in (codes.RES_OK, codes.RES_ERR_KEY), code
                    if ok:
                        got[k] = val
                assert got == want, f"engine {i} after step {step} ({op} {key})"

    def test_tail_tombstone_hides_a_base_row(self, spark, tmp_path):
        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        log.append([{"seq": 1, "op": "insert", "key": "a", "value": b"1"},
                    {"seq": 2, "op": "insert", "key": "b", "value": b"2"}])
        log.compact()
        assert log.lookup("a")["value"] == b"1"
        log.append([{"seq": 3, "op": "delete", "key": "a", "value": None}])
        assert log.lookup("a") is None
        assert [r["key"] for r in log.replay_cached().collect()] == ["b"]
        assert _replayed(spark, str(tmp_path / "kv")) == {"b": b"2"}

    def test_large_rows_are_read_again_not_remembered(self, spark, tmp_path,
                                                      monkeypatch):
        monkeypatch.setattr(changelog, "MEMO_ROW_BYTES", 16)
        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        log.append([{"seq": 1, "op": "insert", "key": "a", "value": b"1"},
                    {"seq": 2, "op": "insert", "key": "b", "value": b"x" * 64}])
        log.compact()
        assert log.lookup("a")["value"] == b"1"
        assert log.lookup("b")["value"] == b"x" * 64
        assert set(log.snapshot().memo) == {"a"}
        # a remembered key whose log record is large leaves the memo
        # that SAV carries over to the new base
        log.append([{"seq": 3, "op": "update", "key": "a", "value": b"y" * 64}])
        assert log.lookup("a")["value"] == b"y" * 64
        log.compact()
        assert "a" not in log.snapshot().memo
        assert log.lookup("a")["value"] == b"y" * 64

    def test_stream_sink_file_over_the_byte_budget_spills(self, spark, tmp_path,
                                                          monkeypatch):
        """A stream-sink batch too large for the overlay is indexed by
        its footers, never read whole onto the driver."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        log.append([{"seq": 1, "op": "insert", "key": "small", "value": b"s"}])
        assert log.lookup("small")["value"] == b"s"
        loaded: list[str] = []
        read_tail = ChangeLog._read_tail

        def spy(self, paths):
            loaded.extend(paths)
            return read_tail(self, paths)

        monkeypatch.setattr(ChangeLog, "_read_tail", spy)
        monkeypatch.setattr(changelog, "OVERLAY_BYTES", 4096)
        src = tmp_path / "mutations"
        src.mkdir()
        # incompressible values, so the file is larger than the budget
        big = [{"seq": 10 + i, "op": "insert", "key": f"big{i}",
                "value": random.Random(i).randbytes(2048)} for i in range(4)]
        schema = pa.schema([pa.field("seq", pa.int64()), pa.field("op", pa.string()),
                            pa.field("key", pa.string()), pa.field("value", pa.binary())])

        def ingest(name, rows):
            pq.write_table(pa.table({c: [r[c] for r in rows] for c in schema.names},
                                    schema=schema), str(src / name))
            ChangelogStreamSink(log).ingest_available(
                spark.readStream.schema(KV_SCHEMA).parquet(str(src)))

        ingest("m1.parquet", big)
        assert any("batch-stream" in f for f in log.layout_key()[1])
        assert log.lookup("big2")["value"] == big[2]["value"]
        assert log.lookup("small")["value"] == b"s"
        assert not [p for p in loaded if "batch-stream" in p]
        assert any("batch-stream" in f for f in log.snapshot().spill)
        assert log.seen_seq() == 13
        # a sink batch within the budget is read into the overlay
        ingest("m2.parquet", [{"seq": 20, "op": "delete", "key": "big1", "value": None},
                              {"seq": 21, "op": "update", "key": "small", "value": b"t"}])
        assert log.lookup("big1") is None
        assert log.lookup("small")["value"] == b"t"
        assert [p for p in loaded if "batch-stream" in p]
        assert log.snapshot().overlay.keys() == {"big1", "small"}


def _compacted(spark, root: str, n: int = 800) -> ChangeLog:
    """A base of ``n`` keys (k00000, k00002, ...; k00010 deleted before
    SAV) compacted by one ChangeLog, served by a fresh one whose memo is
    empty."""
    log = ChangeLog(spark, root, KV_SCHEMA, key_col="key")
    rng = random.Random(n)
    log.append([{"seq": i + 1, "op": "insert", "key": f"k{2 * i:05d}",
                 "value": rng.randbytes(512)} for i in range(n)])
    log.append([{"seq": n + 1, "op": "delete", "key": "k00010", "value": None}])
    log.compact()
    fresh = ChangeLog(spark, root, KV_SCHEMA, key_col="key")
    fresh.snapshot()
    return fresh


def _footer_ranges(base_dir: str) -> list[tuple[str, str]]:
    ranges = []
    for f in sorted(os.listdir(base_dir)):
        if f.endswith(".parquet"):
            meta = pq.read_metadata(os.path.join(base_dir, f))
            col = meta.schema.names.index("key")
            ranges += [(meta.row_group(i).column(col).statistics.min,
                        meta.row_group(i).column(col).statistics.max)
                       for i in range(meta.num_row_groups)
                       if meta.row_group(i).num_rows]
    return ranges


class TestBaseReads:
    """A memo miss reads the base's row groups on the driver."""

    def test_memo_misses_after_sav_run_no_spark_job(self, spark, tmp_path):
        root = str(tmp_path / "kv")
        log = _compacted(spark, root)
        want = _replayed(spark, root)
        keys = ["k00004", "k00005", "k00010", "a", "z"]  # present, absent, deleted
        assert not set(keys) & set(log.snapshot().memo)
        got = []
        assert spark_jobs(spark, lambda: got.extend(log.lookup(k) for k in keys)) == 0
        assert [r and r["value"] for r in got] == [want.get(k) for k in keys]
        assert got[0] == {"seq": 3, "op": "insert", "key": "k00004", "value": want["k00004"]}

    def test_compacted_base_has_disjoint_ordered_key_ranges(self, spark, tmp_path,
                                                            monkeypatch):
        monkeypatch.setattr(changelog, "ROW_GROUP_BYTES", 32 << 10)
        root = str(tmp_path / "kv")
        _compacted(spark, root)
        ranges = sorted(_footer_ranges(os.path.join(root, "base")))
        assert len(ranges) > 1
        assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges

    def test_point_read_decodes_at_most_one_row_group(self, spark, tmp_path,
                                                      monkeypatch):
        monkeypatch.setattr(changelog, "ROW_GROUP_BYTES", 32 << 10)
        root = str(tmp_path / "kv")
        log = _compacted(spark, root)
        assert len(log.snapshot().groups) > 1
        want = _replayed(spark, root)
        reads: list[tuple] = []
        read_group = ChangeLog._read_group

        def spy(self, path, meta, i, key):
            reads.append((path, i))
            return read_group(self, path, meta, i, key)

        monkeypatch.setattr(ChangeLog, "_read_group", spy)
        for key, most in [("k00000", 1), ("k00801", 1), ("k01598", 1),
                          ("a", 0), ("z", 0)]:
            reads.clear()
            row = log.lookup(key)
            assert (row and row["value"]) == want.get(key), key
            assert len(reads) <= most, (key, reads)

    def test_cold_lookups_after_appends_since_sav_run_no_spark_job(self, spark,
                                                                   tmp_path):
        root = str(tmp_path / "kv")
        log = _compacted(spark, root)
        for i in range(100):
            log.append([{"seq": 5000 + i, "op": "update", "key": f"k{2 * i:05d}",
                         "value": b"new"}])
        want = _replayed(spark, root)
        got = []
        keys = ["k00202", "k00300", "k00301", "z"]  # present, present, absent
        assert spark_jobs(spark, lambda: got.extend(log.lookup(k) for k in keys)) == 0
        assert [r and r["value"] for r in got] == [want.get(k) for k in keys]
        snap = log.snapshot()
        assert len(snap.layout[1]) == 100 and not set(keys) & set(snap.overlay)
        assert log.lookup("k00002")["value"] == want["k00002"] == b"new"

    def test_base_swapped_by_another_sav_mid_read(self, spark, tmp_path, monkeypatch):
        """Another ChangeLog compacts between this one's footer index and
        its row-group read: the read falls back and stays exact."""
        root = str(tmp_path / "kv")
        log = _compacted(spark, root)
        other = ChangeLog(spark, root, KV_SCHEMA, key_col="key")
        read_group = ChangeLog._read_group
        swaps = []

        def racing(self, path, meta, i, key):
            if not swaps:
                swaps.append(path)
                other.append([{"seq": 9000, "op": "insert", "key": "new", "value": b"n"}])
                other.compact()
            return read_group(self, path, meta, i, key)

        monkeypatch.setattr(ChangeLog, "_read_group", racing)
        row = log.lookup("k00020")
        assert swaps and not os.path.exists(swaps[0])
        want = _replayed(spark, root)
        assert row["value"] == want["k00020"]
        assert log.lookup("new")["value"] == b"n"
        assert {k: (log.lookup(k) or {}).get("value")
                for k in ["k00020", "k00010", "k01598"]} == {
            "k00020": want["k00020"], "k00010": None, "k01598": want["k01598"]}

    def test_unsorted_base_answers_exactly(self, spark, tmp_path):
        """A base written without the range sort (overlapping footer
        ranges), under a log tail, answers as replay() does."""
        root = tmp_path / "kv"
        rng = random.Random(5)
        rows = [(i + 1, "insert", f"k{i:04d}", rng.randbytes(64)) for i in range(300)]
        (spark.createDataFrame(rows, KV_SCHEMA).repartition(4)
         .write.parquet(str(root / "base")))
        ranges = sorted(_footer_ranges(str(root / "base")))
        assert any(lo <= prev_hi for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]))
        log = ChangeLog(spark, str(root), KV_SCHEMA, key_col="key")
        log.append([{"seq": 400, "op": "delete", "key": "k0003", "value": None},
                    {"seq": 401, "op": "update", "key": "k0004", "value": b"u"},
                    {"seq": 402, "op": "insert", "key": "k9999", "value": b"i"}])
        want = _replayed(spark, str(root))
        keys = [f"k{i:04d}" for i in range(0, 320, 7)] + ["k0003", "k0004", "k9999"]
        assert log.snapshot().groups and not log.snapshot().spill
        got = {k: (log.lookup(k) or {}).get("value") for k in keys}
        assert got == {k: want.get(k) for k in keys}


def _sink(spark, log: ChangeLog, src, files: list[list[dict]]) -> None:
    """``files`` written as parquet mutation files under ``src`` and
    drained into ``log`` by a ChangelogStreamSink."""
    import pyarrow as pa

    schema = pa.schema([pa.field("seq", pa.int64()), pa.field("op", pa.string()),
                        pa.field("key", pa.string()), pa.field("value", pa.binary())])
    src.mkdir()
    for n, rows in enumerate(files):
        pq.write_table(pa.table({c: [r[c] for r in rows] for c in schema.names},
                                schema=schema), str(src / f"m{n}.parquet"))
    ChangelogStreamSink(log).ingest_available(
        spark.readStream.schema(KV_SCHEMA).parquet(str(src)))


class TestSpilledReads:
    """A spill is served from its footer index on the driver, like the
    base: no point read and no credential rebuild starts a Spark job."""

    def test_cold_lookups_after_a_spilling_sink_ingest_run_no_spark_job(
            self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(changelog, "ROW_GROUP_BYTES", 32 << 10)
        root = str(tmp_path / "kv")
        log = _compacted(spark, root)
        log.append([{"seq": 5000, "op": "update", "key": "k00500", "value": b"driver"}])
        assert log.lookup("k00500")["value"] == b"driver"
        monkeypatch.setattr(changelog, "OVERLAY_BYTES", 4096)
        rng = random.Random(11)
        # three source files, so the sink batch lands as several part
        # files: updates and deletes of k00000..k00398, inserts of
        # k00401..k00599
        files = [[{"seq": 6000 + i, "op": op, "key": f"k{2 * i + (f == 2):05d}",
                   "value": None if op == "delete" else rng.randbytes(256)}
                  for i in range(f * 100, f * 100 + 100)
                  for op in [("delete" if i % 7 == 3 else "update") if f < 2 else "insert"]]
                 for f in range(3)]
        _sink(spark, log, tmp_path / "mutations", files)
        snap = log.snapshot()
        spilled = [f for f in snap.spill if "batch-stream" in f]
        assert len(spilled) > 1 and not snap.overlay and not snap.memo
        assert snap.layout[1] == snap.spill
        want = _replayed(spark, root)
        keys = ["k01000", "k00002", "k00006", "k00010", "k00500", "k00401",
                "k00402", "k00601", "k01599", "a", "z"]
        # base only, updated, deleted, deleted before SAV then updated,
        # updated by the driver, inserted, base only, absent, absent,
        # outside every range
        assert want["k00500"] == b"driver" and "k00006" not in want
        assert "k00401" in want and not {"k00601", "k01599"} & set(want)
        reads: list[list[str]] = []
        read_group = ChangeLog._read_group

        def spy(self, path, meta, i, key):
            reads[-1].append(path)
            return read_group(self, path, meta, i, key)

        monkeypatch.setattr(ChangeLog, "_read_group", spy)
        got = []

        def lookups():
            for k in keys:
                reads.append([])
                got.append(log.lookup(k))

        assert spark_jobs(spark, lookups) == 0
        assert [r and r["value"] for r in got] == [want.get(k) for k in keys]
        # at most one base group, and one group of each spilled file
        base_dir = os.path.join(root, "base")
        for key, paths in zip(keys, reads):
            spill = [p for p in paths if os.path.dirname(p) != base_dir]
            assert len(paths) - len(spill) <= 1, (key, paths)
            assert len(spill) == len(set(spill)), (key, paths)
        settled = {r["key"]: r["value"] for r in log.settled_rows(["key", "value"])[1]}
        assert settled == want

    def test_logins_over_a_spilled_auth_log_run_no_spark_job(self, spark, tmp_path,
                                                             monkeypatch):
        monkeypatch.setattr(changelog, "OVERLAY_BYTES", 1)
        d = str(tmp_path / "data")
        eng = KVEngine(spark, d, req_quota=1 << 30, up_quota=1 << 30,
                       down_quota=1 << 30)
        assert eng.add_user(*PW)[1] == codes.RES_OK
        assert eng.add_user("bob", "pb")[1] == codes.RES_OK
        assert eng.set_user_data(*PW, b"profile")[1] == codes.RES_OK
        assert eng.set_user_data("bob", "pw", b"x")[1] == codes.RES_ERR_LOGIN
        snap = eng.auth_log.snapshot()
        assert len(snap.spill) == 3 and not snap.overlay
        fresh = KVEngine(spark, d, req_quota=1 << 30, up_quota=1 << 30,
                         down_quota=1 << 30)
        replies = []

        def logins():
            for e in (eng, fresh):
                replies.extend([e.get_user_data(*PW, "alice")[1:],
                                e.get_user_data("bob", "pb", "alice")[1:],
                                e.get_user_data("alice", "pb", "alice")[1],
                                e.get_user_data("bob", "pw", "alice")[1],
                                e.get_user_data("carol", "pw", "alice")[1]])

        assert spark_jobs(spark, logins) == 0
        assert replies == 2 * [(codes.RES_OK, b"profile"), (codes.RES_OK, b"profile"),
                               codes.RES_ERR_LOGIN, codes.RES_ERR_LOGIN,
                               codes.RES_ERR_LOGIN]
