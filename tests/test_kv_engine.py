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
    """The log snapshot: point ops must not re-scan the whole log per call."""

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
        """After the snapshot is warm, a write must only re-read the new
        batch file, on the driver into the overlay: never the full log,
        and no Spark read of any log file."""
        eng = self._eng(spark, tmp_path)
        seed(eng)
        eng.kv_insert("alice", "alice_is_awesome", "k1", b"v1")
        eng.kv_get("alice", "alice_is_awesome", "k1")  # warm the snapshot

        spark_reads: list[list[str]] = []
        tail_reads: list[list[str]] = []
        cls = type(eng.kv_log)
        read_files, read_tail = cls._read_files, cls._read_tail

        def spy_files(self, files):
            spark_reads.append(list(files))
            return read_files(self, files)

        def spy_tail(self, paths):
            tail_reads.append(list(paths))
            return read_tail(self, paths)

        monkeypatch.setattr(cls, "_read_files", spy_files)
        monkeypatch.setattr(cls, "_read_tail", spy_tail)
        eng.kv_insert("alice", "alice_is_awesome", "k2", b"v2")
        assert eng.kv_get("alice", "alice_is_awesome", "k2")[2] == b"v2"
        kv_reads = [fs for fs in tail_reads if any("/kv/" in f for f in fs)]
        assert kv_reads, "expected an incremental tail read"
        for fs in kv_reads:
            assert len(fs) == 1, f"full-log rescan detected: {fs}"
        assert not [fs for fs in spark_reads if any("/kv/" in f for f in fs)]

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


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs on this thread.  They are tagged with a
    job group and counted once the status store has seen a later
    sentinel job: the listener bus delivers events in order."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(group + "-sentinel", "sentinel")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


class TestCredentialMap:
    """Logins are served from a driver-side username -> (salt, pass_hash)
    map, rebuilt only when the auth log's on-disk layout changes."""

    def test_warm_kv_get_and_warm_auth_run_no_job(self, spark, engine):
        seed(engine)
        engine.kv_insert("alice", "alice_is_awesome", "k", b"v")
        for _ in range(2):  # warm the snapshot and the map
            assert engine.kv_get("alice", "alice_is_awesome", "k")[2] == b"v"
        assert spark_jobs(spark, lambda: engine.kv_get(
            "alice", "alice_is_awesome", "k")) == 0
        assert spark_jobs(spark, lambda: engine._auth(
            "alice", "alice_is_awesome")) == 0

    def test_login_and_profile_read_after_reg_or_set_run_no_job(self, spark, engine):
        seed(engine)
        assert engine.kv_top("alice", "alice_is_awesome")[1] == codes.RES_ERR_NO_DATA
        assert engine.save_file("alice", "alice_is_awesome")[1] == codes.RES_OK
        assert engine.kv_top("bob", "bob_is_the_best")[1] == codes.RES_ERR_NO_DATA
        assert engine.add_user("carol", "pw")[1] == codes.RES_OK
        assert spark_jobs(spark, lambda: engine._auth("carol", "pw")) == 0
        assert engine.set_user_data("bob", "bob_is_the_best", b"p")[1] == codes.RES_OK
        assert spark_jobs(spark, lambda: engine._auth("bob", "bob_is_the_best")) == 0
        replies = []
        assert spark_jobs(spark, lambda: replies.append(engine.get_user_data(
            "carol", "pw", "bob"))) == 0
        assert replies == [(True, codes.RES_OK, b"p")]

    def test_user_registered_by_another_engine_logs_in(self, spark, tmp_path):
        d = str(tmp_path / "data")
        first = KVEngine(spark, d, req_quota=4096)
        second = KVEngine(spark, d, req_quota=4096)
        assert first.add_user("alice", "alice_is_awesome")[1] == codes.RES_OK
        assert first.kv_top("alice", "alice_is_awesome")[1] == codes.RES_ERR_NO_DATA
        assert first.kv_top("bob", "bob_is_the_best")[1] == codes.RES_ERR_LOGIN
        assert second.add_user("bob", "bob_is_the_best")[1] == codes.RES_OK
        assert first.kv_top("bob", "bob_is_the_best")[1] == codes.RES_ERR_NO_DATA
        assert first.add_user("bob", "other")[1] == codes.RES_ERR_USER_EXISTS

    def test_set_keeps_login_working(self, spark, engine):
        seed(engine)
        for i in range(2):
            assert engine.set_user_data("bob", "bob_is_the_best",
                                        f"p{i}".encode())[1] == codes.RES_OK
            assert engine.get_user_data("bob", "bob_is_the_best",
                                        "bob")[2] == f"p{i}".encode()
        assert engine.set_user_data("bob", "wrong", b"x")[1] == codes.RES_ERR_LOGIN
        assert engine.get_user_data("bob", "wrong", "bob")[1] == codes.RES_ERR_LOGIN

    def test_all_after_reg_and_after_sav_runs_no_job(self, spark, engine):
        seed(engine)
        assert engine.add_user("carol", "pw")[1] == codes.RES_OK
        replies = []

        def all_users():
            replies.append(engine.get_all_users("carol", "pw"))

        assert spark_jobs(spark, all_users) == 0  # carol is in the overlay
        assert engine.save_file("carol", "pw")[1] == codes.RES_OK
        assert spark_jobs(spark, all_users) == 0
        for ok, code, data in replies:
            assert (ok, code) == (True, codes.RES_OK)
            assert sorted(data.decode().split("\n")) == ["alice", "bob", "carol"]

    def test_sav_rebuilds_the_map_and_every_login_holds(self, spark, engine):
        users = {f"u{i}": f"pw{i}" for i in range(4)}
        for u, pw in users.items():
            assert engine.add_user(u, pw)[1] == codes.RES_OK
        assert engine.set_user_data("u1", "pw1", b"profile")[1] == codes.RES_OK
        assert engine.save_file("u0", "pw0")[1] == codes.RES_OK
        # the first login after SAV reads the new base's credentials
        # with pyarrow; neither it nor the next runs a Spark job
        assert spark_jobs(spark, lambda: engine._auth("u2", "pw2")) == 0
        assert spark_jobs(spark, lambda: engine._auth("u3", "pw3")) == 0
        for u, pw in users.items():
            assert engine.kv_top(u, pw)[1] == codes.RES_ERR_NO_DATA
            assert engine.kv_top(u, pw + "x")[1] == codes.RES_ERR_LOGIN
        assert engine.get_user_data("u0", "pw0", "u1")[2] == b"profile"

    def test_kvg_and_login_after_another_engines_sav_run_no_job(self, spark, tmp_path):
        """Another engine compacts the directory: the reader's snapshot
        moves to the new base without a Spark job, and a cold KVG and a
        login are served from its footer index and credential columns."""
        d = str(tmp_path / "data")
        writer, reader = (KVEngine(spark, d, req_quota=4096) for _ in range(2))
        seed(writer)
        for i in range(8):
            assert writer.kv_insert("alice", "alice_is_awesome", f"k{i}",
                                    f"v{i}".encode())[1] == codes.RES_OK
        assert reader.kv_get("bob", "bob_is_the_best", "k0")[2] == b"v0"
        assert writer.save_file("alice", "alice_is_awesome")[1] == codes.RES_OK
        replies = []
        assert spark_jobs(spark, lambda: replies.append(reader.kv_get(
            "bob", "bob_is_the_best", "k5"))) == 0
        assert spark_jobs(spark, lambda: replies.append(reader._auth(
            "alice", "alice_is_awesome") is not None)) == 0
        assert replies == [(True, codes.RES_OK, b"v5"), True]
        assert reader.kv_get("bob", "bob_is_the_best", "k9")[1] == codes.RES_ERR_KEY

    def test_imported_ghost_with_empty_credentials_cannot_log_in(self, spark, engine,
                                                                 tmp_path):
        from operating_system_map_reduce_spark.sources import binlog as B

        seed(engine)
        path = str(tmp_path / "ghost.dir")
        B.write_entries(path, [(B.AUTHDIFF, b"ghost", b"spooky profile")])
        assert engine.import_reference_file("alice", "alice_is_awesome",
                                            path)[1] == codes.RES_OK
        for pw in ["", "x"]:
            assert engine.kv_top("ghost", pw)[1] == codes.RES_ERR_LOGIN
        assert engine.get_user_data("alice", "alice_is_awesome",
                                    "ghost")[2] == b"spooky profile"

    def test_racing_reg_on_one_name_admits_exactly_one(self, engine):
        import sys
        import threading

        n = 8
        barrier = threading.Barrier(n)
        replies: dict[int, str] = {}

        def reg(i: int) -> None:
            barrier.wait()
            replies[i] = engine.add_user("carol", f"pw{i}")[1]

        threads = [threading.Thread(target=reg, args=(i,)) for i in range(n)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        winners = [i for i, code in replies.items() if code == codes.RES_OK]
        assert len(winners) == 1, replies
        assert sorted(replies.values()) == sorted(
            [codes.RES_OK] + [codes.RES_ERR_USER_EXISTS] * (n - 1))
        for i in range(n):
            want = codes.RES_ERR_NO_DATA if i == winners[0] else codes.RES_ERR_LOGIN
            assert engine.kv_top("carol", f"pw{i}")[1] == want


class TestSnapshotJobs:
    """Point reads come from the kv log's snapshot: the log overlay,
    then the memo, then the base's row groups."""

    def _saved(self, engine):
        seed(engine)
        for k in ["k1", "k2", "k3"]:
            engine.kv_insert("alice", "alice_is_awesome", k, k.encode())
        assert engine.save_file("alice", "alice_is_awesome")[1] == codes.RES_OK
        assert engine.kv_get("alice", "alice_is_awesome", "k1")[2] == b"k1"

    def test_kvg_after_a_write_runs_at_most_one_job(self, spark, engine):
        self._saved(engine)
        replies = []

        def get(key):
            return lambda: replies.append(engine.kv_get("alice", "alice_is_awesome", key))

        assert engine.kv_upsert("alice", "alice_is_awesome", "k2", b"w")[1] == codes.RES_OKUPD
        assert spark_jobs(spark, get("k3")) <= 1
        assert engine.kv_delete("alice", "alice_is_awesome", "k1")[1] == codes.RES_OK
        assert spark_jobs(spark, get("k2")) == 0  # the overlay holds it
        assert spark_jobs(spark, get("k1")) == 0  # and the tombstone
        assert [r[1:] for r in replies] == [
            (codes.RES_OK, b"k3"), (codes.RES_OK, b"w"), (codes.RES_ERR_KEY, None)]

    def test_repeated_kvg_of_an_unchanged_key_runs_no_job(self, spark, engine):
        self._saved(engine)
        for key in ["k2", "absent"]:
            engine.kv_get("alice", "alice_is_awesome", key)
            assert spark_jobs(spark, lambda: engine.kv_get(
                "alice", "alice_is_awesome", key)) == 0
        assert engine.kv_get("alice", "alice_is_awesome", "k2")[2] == b"k2"
        assert engine.kv_get("alice", "alice_is_awesome", "absent")[1] == codes.RES_ERR_KEY

    def test_write_after_another_engines_writes_wins(self, spark, tmp_path):
        """Two engines on one directory mint seqs from separate counters;
        a write must still sort after every record its engine has seen."""
        d = str(tmp_path / "data")
        first = KVEngine(spark, d, req_quota=4096)
        second = KVEngine(spark, d, req_quota=4096)
        assert first.add_user("alice", "pw")[1] == codes.RES_OK
        for i in range(5):
            second.kv_upsert("alice", "pw", "k", f"second-{i}".encode())
        assert first.kv_insert("alice", "pw", "k", b"x")[1] == codes.RES_ERR_KEY
        assert first.kv_upsert("alice", "pw", "k", b"first")[1] == codes.RES_OKUPD
        for eng in (first, second):
            assert eng.kv_get("alice", "pw", "k")[2] == b"first"
        assert [bytes(r["value"]) for r in first.kv_log.replay().collect()] == [b"first"]


class TestSavGate:
    def test_sav_waits_for_a_reader_inside_its_spark_action(self, spark, engine,
                                                            monkeypatch):
        """A reader that has listed the log runs to the end before SAV
        compacts, so SAV cannot remove a file the reader then opens."""
        import threading

        from operating_system_map_reduce_spark.sources.changelog import ChangeLog

        seed(engine)
        engine.kv_insert("alice", "alice_is_awesome", "k", b"v")
        assert engine.kv_get("alice", "alice_is_awesome", "k")[2] == b"v"
        # a new log batch: the next read lists it and reads it
        engine.kv_upsert("alice", "alice_is_awesome", "k", b"w")

        paused, release, compacting = (threading.Event(), threading.Event(),
                                       threading.Event())
        read_tail, compact = ChangeLog._read_tail, ChangeLog.compact

        def pausing_read(self, paths):
            rows = read_tail(self, paths)
            if threading.current_thread().name == "reader":
                paused.set()
                assert release.wait(120)
            return rows

        def noting_compact(self):
            compacting.set()
            return compact(self)

        monkeypatch.setattr(ChangeLog, "_read_tail", pausing_read)
        monkeypatch.setattr(ChangeLog, "compact", noting_compact)
        replies: dict[str, object] = {}

        def run(name, fn):
            try:
                replies[name] = fn()
            except Exception as e:  # reported by the asserts below
                replies[name] = e

        reader = threading.Thread(name="reader", target=run, args=(
            "kvg", lambda: engine.kv_get("alice", "alice_is_awesome", "k")))
        sav = threading.Thread(target=run, args=(
            "sav", lambda: engine.save_file("alice", "alice_is_awesome")))
        reader.start()
        assert paused.wait(120)
        sav.start()
        sav_ran_early = compacting.wait(3.0)
        release.set()
        reader.join(120)
        sav.join(120)
        assert not reader.is_alive() and not sav.is_alive()
        assert not sav_ran_early, "SAV compacted while a reader was inside its read"
        assert replies["kvg"] == (True, codes.RES_OK, b"w")
        assert replies["sav"] == (True, codes.RES_OK, None)
        assert engine.kv_get("alice", "alice_is_awesome", "k")[2] == b"w"
