"""Golden tests for the auth/KV surface, modeled on the reference's
p1/p2/p3 suites (scripts/p1.py, p2.py, p3.py): same seed data, same
expected response codes, plus restart-survival (changelog replay) and
SAV compaction semantics.
"""

from __future__ import annotations

import pytest

from operating_system_map_reduce_spark import codes
from operating_system_map_reduce_spark.engine import KVEngine


@pytest.fixture()
def engine(spark, tmp_path):
    eng = KVEngine(spark, str(tmp_path / "data"), admin="alice", req_quota=4096,
                   quota_interval=1.0)
    yield eng
    eng.shutdown()


def seed(eng: KVEngine):
    assert eng.add_user("alice", "alice_is_awesome")[1] == codes.RES_OK
    assert eng.add_user("bob", "bob_is_the_best")[1] == codes.RES_OK


class TestAuth:
    def test_reg_and_dup(self, engine):
        ok, code, _ = engine.add_user("alice", "pw")
        assert (ok, code) == (True, codes.RES_OK)
        ok, code, _ = engine.add_user("alice", "pw")
        assert (ok, code) == (False, codes.RES_ERR_USER_EXISTS)

    def test_wrong_password(self, engine):
        seed(engine)
        assert engine.get_all_users("alice", "wrong")[1] == codes.RES_ERR_LOGIN
        assert engine.get_all_users("fakealice", "pw")[1] == codes.RES_ERR_LOGIN

    def test_set_get_profile(self, engine):
        seed(engine)
        blob = b"alice profile contents \x00\x01"
        assert engine.set_user_data("alice", "alice_is_awesome", blob)[1] == codes.RES_OK
        ok, code, data = engine.get_user_data("bob", "bob_is_the_best", "alice")
        assert (ok, code, data) == (True, codes.RES_OK, blob)

    def test_get_empty_profile_is_err_no_data(self, engine):
        seed(engine)
        assert engine.get_user_data("alice", "alice_is_awesome", "bob")[1] == codes.RES_ERR_NO_DATA

    def test_get_unknown_user(self, engine):
        seed(engine)
        assert engine.get_user_data("alice", "alice_is_awesome", "chris")[1] == codes.RES_ERR_NO_USER

    def test_all_users(self, engine):
        seed(engine)
        ok, code, data = engine.get_all_users("alice", "alice_is_awesome")
        assert (ok, code) == (True, codes.RES_OK)
        assert sorted(data.decode().split("\n")) == ["alice", "bob"]


class TestKV:
    def test_insert_get_roundtrip(self, engine):
        seed(engine)
        for i in range(1, 9):
            assert engine.kv_insert("alice", "alice_is_awesome", f"k{i}", str(i).encode())[1] == codes.RES_OK
        ok, code, val = engine.kv_get("bob", "bob_is_the_best", "k3")
        assert (ok, code, val) == (True, codes.RES_OK, b"3")

    def test_insert_dup_is_err_key(self, engine):
        seed(engine)
        engine.kv_insert("alice", "alice_is_awesome", "k1", b"1")
        assert engine.kv_insert("alice", "alice_is_awesome", "k1", b"x")[1] == codes.RES_ERR_KEY

    def test_get_missing_is_err_key(self, engine):
        seed(engine)
        assert engine.kv_get("alice", "alice_is_awesome", "nope")[1] == codes.RES_ERR_KEY

    def test_delete_then_get(self, engine):
        seed(engine)
        engine.kv_insert("alice", "alice_is_awesome", "k1", b"1")
        assert engine.kv_delete("alice", "alice_is_awesome", "k1")[1] == codes.RES_OK
        assert engine.kv_get("alice", "alice_is_awesome", "k1")[1] == codes.RES_ERR_KEY
        assert engine.kv_delete("alice", "alice_is_awesome", "k1")[1] == codes.RES_ERR_KEY

    def test_upsert_codes(self, engine):
        seed(engine)
        assert engine.kv_upsert("alice", "alice_is_awesome", "k1", b"1")[1] == codes.RES_OKINS
        assert engine.kv_upsert("alice", "alice_is_awesome", "k1", b"2")[1] == codes.RES_OKUPD
        assert engine.kv_get("alice", "alice_is_awesome", "k1")[2] == b"2"

    def test_kva_lists_all(self, engine):
        seed(engine)
        for i in range(1, 4):
            engine.kv_insert("alice", "alice_is_awesome", f"k{i}", str(i).encode())
        ok, code, data = engine.kv_all("alice", "alice_is_awesome")
        assert sorted(data.decode().split("\n")) == ["k1", "k2", "k3"]

    def test_kva_empty_is_err_no_data(self, engine):
        seed(engine)
        assert engine.kv_all("alice", "alice_is_awesome")[1] == codes.RES_ERR_NO_DATA

    def test_binary_values_roundtrip(self, engine):
        seed(engine)
        blob = bytes(range(256)) * 4
        engine.kv_insert("alice", "alice_is_awesome", "bin", blob)
        assert engine.kv_get("alice", "alice_is_awesome", "bin")[2] == blob


class TestDurability:
    """p3 parity: restart between ops, data survives without SAV; SAV
    compacts and data still survives."""

    def test_restart_replays_log(self, spark, tmp_path):
        d = str(tmp_path / "data")
        eng = KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)
        seed(eng)
        eng.kv_insert("alice", "alice_is_awesome", "k1", b"v1")
        eng.kv_upsert("alice", "alice_is_awesome", "k1", b"v2")
        eng.kv_insert("alice", "alice_is_awesome", "k2", b"x")
        eng.kv_delete("alice", "alice_is_awesome", "k2")
        eng.shutdown()

        eng2 = KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)
        assert eng2.kv_get("alice", "alice_is_awesome", "k1")[2] == b"v2"
        assert eng2.kv_get("alice", "alice_is_awesome", "k2")[1] == codes.RES_ERR_KEY
        # seq continues past the replayed log: new writes don't collide
        assert eng2.kv_insert("alice", "alice_is_awesome", "k3", b"y")[1] == codes.RES_OK

    def test_sav_compaction_preserves_state(self, spark, tmp_path):
        import os

        d = str(tmp_path / "data")
        eng = KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)
        seed(eng)
        for i in range(5):
            eng.kv_upsert("alice", "alice_is_awesome", "k", f"v{i}".encode())
        assert eng.save_file("alice", "alice_is_awesome")[1] == codes.RES_OK
        # log dir is truncated after compaction
        assert os.listdir(os.path.join(d, "kv", "log")) == []

        eng2 = KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)
        assert eng2.kv_get("alice", "alice_is_awesome", "k")[2] == b"v4"
        ok, _, users = eng2.get_all_users("alice", "alice_is_awesome")
        assert sorted(users.decode().split("\n")) == ["alice", "bob"]

    def test_sav_compaction_never_materializes_on_driver(self, spark, tmp_path, monkeypatch):
        """100 TB guard: compact() must stream the snapshot from executors
        to parquet, never .collect()/.toPandas() it onto the driver."""
        from pyspark.sql import DataFrame

        d = str(tmp_path / "data")
        eng = KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)
        seed(eng)
        for i in range(3):
            eng.kv_upsert("alice", "alice_is_awesome", "k", f"v{i}".encode())

        def _forbidden(self, *a, **k):
            raise AssertionError("driver-side materialization inside SAV compaction")

        monkeypatch.setattr(DataFrame, "collect", _forbidden)
        monkeypatch.setattr(DataFrame, "toPandas", _forbidden)
        eng.auth_log.compact()
        eng.kv_log.compact()
        monkeypatch.undo()
        assert eng.kv_get("alice", "alice_is_awesome", "k")[2] == b"v2"

    def test_sav_keeps_appends_made_during_the_snapshot(self, spark, tmp_path,
                                                        monkeypatch):
        """compact() truncates only the log files its snapshot read: a
        batch appended while the snapshot is written, and the .tmp file
        of an append still in flight, survive it."""
        import os

        from pyspark.sql import DataFrameWriter

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import ChangeLog

        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        log.append([{"seq": 1, "op": "insert", "key": "a", "value": b"1"}])
        in_flight = os.path.join(log.log_dir, "batch-in-flight.parquet.tmp")
        orig = DataFrameWriter.parquet

        def write_then_append(self, path, *a, **k):
            orig(self, path, *a, **k)
            log.append([{"seq": 2, "op": "insert", "key": "b", "value": b"2"}])
            open(in_flight, "wb").close()

        monkeypatch.setattr(DataFrameWriter, "parquet", write_then_append)
        log.compact()
        monkeypatch.undo()
        assert sorted((r["key"], bytes(r["value"])) for r in
                      log.replay().collect()) == [("a", b"1"), ("b", b"2")]
        assert os.path.exists(in_flight)


class TestAesAtRest:
    """At-rest crypto parity (p1/common/crypto.h:26-49): the engine-tier
    aes_encrypt/aes_decrypt roundtrip recovers every value; a wrong key
    never silently yields the plaintext."""

    def test_roundtrip_and_wrong_key(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.plans.kvqueries import (
            _AES_KEY, kv_aes_at_rest)
        from operating_system_map_reduce_spark.sources.tables import load_table

        res = kv_aes_at_rest(spark, sf_dir)
        assert res.filter(~F.col("roundtrip_ok")).count() == 0

        part = load_table(spark, sf_dir, "part").limit(50)
        plain = F.encode(F.col("p_name"), "UTF-8")
        enc = F.aes_encrypt(plain, F.lit(_AES_KEY), F.lit("ECB"), F.lit("PKCS"))
        wrong = F.try_aes_decrypt(F.col("cipher"), F.lit("x" * 32),
                                  F.lit("ECB"), F.lit("PKCS"))
        leaked = (part.select(plain.alias("plain"), enc.alias("cipher"))
                  .select((F.col("plain") == wrong).alias("leak"))
                  .filter(F.col("leak")).count())
        assert leaked == 0


class TestReplayCache:
    """replay_cached: point ops must not re-scan the whole log per call."""

    def _eng(self, spark, tmp_path):
        d = str(tmp_path / "data")
        return KVEngine(spark, d, admin="alice", req_quota=4096, quota_interval=1.0)

    def test_unchanged_layout_returns_same_plan_no_rescan(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        seed(eng)
        eng.kv_insert("alice", "alice_is_awesome", "k", b"v")
        first = eng.kv_log.replay_cached()
        assert eng.kv_log.replay_cached() is first, "cache hit must be free"

    def test_append_extends_state_incrementally(self, spark, tmp_path, monkeypatch):
        """After the cache is warm, a write must only re-read the new
        batch files, never the full log."""
        eng = self._eng(spark, tmp_path)
        seed(eng)
        eng.kv_insert("alice", "alice_is_awesome", "k1", b"v1")
        eng.kv_get("alice", "alice_is_awesome", "k1")  # warm the cache

        read_calls: list[list[str]] = []
        orig = type(eng.kv_log)._read_files

        def spy(self, files):
            read_calls.append(list(files))
            return orig(self, files)

        monkeypatch.setattr(type(eng.kv_log), "_read_files", spy)
        eng.kv_insert("alice", "alice_is_awesome", "k2", b"v2")
        assert eng.kv_get("alice", "alice_is_awesome", "k2")[2] == b"v2"
        kv_reads = [fs for fs in read_calls if any("/kv/" in f for f in fs)]
        assert kv_reads, "expected an incremental tail read"
        for fs in kv_reads:
            assert len(fs) <= 2, f"full-log rescan detected: {fs}"

    def test_tombstone_outranks_cached_row(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        seed(eng)
        eng.kv_insert("alice", "alice_is_awesome", "k", b"v")
        assert eng.kv_get("alice", "alice_is_awesome", "k")[2] == b"v"  # cache k
        eng.kv_delete("alice", "alice_is_awesome", "k")
        assert eng.kv_get("alice", "alice_is_awesome", "k")[1] == codes.RES_ERR_KEY
        eng.kv_insert("alice", "alice_is_awesome", "k", b"v2")
        assert eng.kv_get("alice", "alice_is_awesome", "k")[2] == b"v2"

    def test_compaction_invalidates_and_rebuilds(self, spark, tmp_path):
        eng = self._eng(spark, tmp_path)
        seed(eng)
        for i in range(3):
            eng.kv_upsert("alice", "alice_is_awesome", "k", f"v{i}".encode())
        eng.kv_get("alice", "alice_is_awesome", "k")  # warm
        assert eng.save_file("alice", "alice_is_awesome")[1] == codes.RES_OK
        assert eng.kv_get("alice", "alice_is_awesome", "k")[2] == b"v2"
        eng.kv_insert("alice", "alice_is_awesome", "k9", b"x")
        assert eng.kv_get("alice", "alice_is_awesome", "k9")[2] == b"x"
