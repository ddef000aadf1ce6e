"""The changelog snapshot (sources/changelog.py) against replay().

Point reads are served from a driver-side overlay of the log tail, a
per-state memo and a checkpointed state; every answer must equal what a
fresh ``ChangeLog.replay()`` over the files says, whatever folds,
rebuilds, compactions and other engines' appends came before.
"""

from __future__ import annotations

import random

from operating_system_map_reduce_spark import codes
from operating_system_map_reduce_spark.engine import KV_SCHEMA, KVEngine
from operating_system_map_reduce_spark.sources import changelog
from operating_system_map_reduce_spark.sources.changelog import ChangeLog, ChangelogStreamSink

PW = ("alice", "pw")


def _replayed(spark, root: str) -> dict[str, bytes]:
    log = ChangeLog(spark, root, KV_SCHEMA, key_col="key")
    return {r["key"]: bytes(r["value"]) for r in log.replay().collect()}


class TestDifferential:
    def test_two_engines_match_replay_after_every_op(self, spark, tmp_path,
                                                     monkeypatch):
        monkeypatch.setattr(changelog, "FOLD_FILES", 3)
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
        # a remembered key whose tail record is large leaves the memo
        # when the tail is folded
        monkeypatch.setattr(changelog, "FOLD_FILES", 0)
        log.append([{"seq": 3, "op": "update", "key": "a", "value": b"y" * 64}])
        assert log.lookup("a")["value"] == b"y" * 64
        assert log.snapshot().tail == () and "a" not in log.snapshot().memo
        assert log.lookup("a")["value"] == b"y" * 64

    def test_stream_sink_file_over_the_byte_budget_folds(self, spark, tmp_path,
                                                         monkeypatch):
        """A stream-sink batch too large for the overlay is folded by
        Spark and never read onto the driver."""
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
        monkeypatch.setattr(changelog, "FOLD_BYTES", 4096)
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
        assert log.snapshot().tail == ()
        assert log.seen_seq() == 13
        # a sink batch within the budget is read into the overlay
        ingest("m2.parquet", [{"seq": 20, "op": "delete", "key": "big1", "value": None},
                              {"seq": 21, "op": "update", "key": "small", "value": b"t"}])
        assert log.lookup("big1") is None
        assert log.lookup("small")["value"] == b"t"
        assert [p for p in loaded if "batch-stream" in p]
        assert log.snapshot().overlay.keys() == {"big1", "small"}
