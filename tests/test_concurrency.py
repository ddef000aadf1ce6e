"""Concurrency parity: many concurrent clients racing on one engine.

Mirrors the reference's p2 races grading
(p2/scripts/grading_p2_races.py:49-145): launch a swarm of concurrent
KVI clients, then concurrent KVG, then concurrent KVD, expecting every
op to succeed and the store to stay consistent.  The reference gets its
safety from per-bucket locks (p2/server/concurrenthashmap.h:40-43); the
engine mirrors that with striped per-key write locks plus a locked seq
counter (engine.py).

Scaled from 1,024 subprocess clients to threads x keys: each op here is
a Spark action (auth collect + existence probe + fsync'd append), not a
socket round-trip, so the same interleavings are exercised with far
fewer iterations.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from operating_system_map_reduce_spark import codes
from operating_system_map_reduce_spark.engine import KVEngine

NKEYS = 32
WORKERS = 8

ALICE = ("alice", "alice_is_awesome")


@pytest.fixture()
def engine(spark, tmp_path):
    eng = KVEngine(spark, str(tmp_path / "data"), admin="alice",
                   req_quota=1 << 30, up_quota=1 << 30, down_quota=1 << 30,
                   quota_interval=60.0, top_size=NKEYS)
    assert eng.add_user(*ALICE)[1] == codes.RES_OK
    yield eng
    eng.shutdown()


def _run_all(fn, items):
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        return list(pool.map(fn, items))


def _assert_unique_seqs(engine):
    seqs = [r["seq"] for r in engine.kv_log.raw().select("seq").collect()]
    assert len(seqs) == len(set(seqs)), "duplicate changelog seq minted under race"


class TestMetadataRaces:
    """The engine's in-memory metadata (quota deques, MRU) is hit by
    every concurrent client; these are pure-Python hammer tests (no
    Spark), so they can afford thousands of interleavings."""

    def test_quota_never_over_admits(self):
        from operating_system_map_reduce_spark.operators.quota import QuotaTracker

        for _ in range(50):
            q = QuotaTracker(amount=50, duration=60.0)
            barrier = threading.Barrier(8)

            def charge(_):
                barrier.wait()
                return q.check_add(30, 1.0)

            admitted = _run_all(charge, range(8))
            # cap 50, charges of 30: concurrent check-then-record must
            # admit exactly one -- two would be an over-admission race
            assert admitted.count(True) == 1, admitted

    def test_mru_no_duplicates_under_contention(self):
        from operating_system_map_reduce_spark.operators.mru import MRUManager

        for _ in range(50):
            mru = MRUManager(top_size=8)
            barrier = threading.Barrier(8)

            def touch(i):
                barrier.wait()
                for _ in range(20):
                    mru.insert(f"k{i % 3}")
                return mru.get()

            _run_all(touch, range(8))
            final = mru.get()
            assert len(final) == len(set(final)), final
            assert set(final) == {"k0", "k1", "k2"}


class TestRaces:
    def test_concurrent_insert_get_delete(self, engine):
        """The grading_p2_races.py phases: N concurrent KVI (all OK), N
        concurrent KVG (right bytes back), N concurrent KVD (all OK)."""
        keys = [f"k{i}" for i in range(NKEYS)]

        codes_back = _run_all(
            lambda k: engine.kv_insert(*ALICE, k, f"v-{k}".encode())[1], keys)
        assert codes_back == [codes.RES_OK] * NKEYS
        _assert_unique_seqs(engine)

        got = _run_all(lambda k: engine.kv_get(*ALICE, k), keys)
        assert all(code == codes.RES_OK and val == f"v-{k}".encode()
                   for k, (ok, code, val) in zip(keys, got))

        codes_back = _run_all(lambda k: engine.kv_delete(*ALICE, k)[1], keys)
        assert codes_back == [codes.RES_OK] * NKEYS
        assert engine.kv_df().count() == 0
        _assert_unique_seqs(engine)

    def test_same_key_insert_race(self, engine):
        """Contended insert on ONE key: exactly one client wins RES_OK,
        the rest see ERR_KEY (the reference's bucket lock makes
        check-then-insert atomic), and the surviving value belongs to
        the winner."""
        results = _run_all(
            lambda i: (i, engine.kv_insert(*ALICE, "hot", f"w{i}".encode())[1]),
            range(WORKERS))
        winners = [i for i, code in results if code == codes.RES_OK]
        losers = [code for _, code in results if code != codes.RES_OK]
        assert len(winners) == 1
        assert losers == [codes.RES_ERR_KEY] * (WORKERS - 1)
        _, _, val = engine.kv_get(*ALICE, "hot")
        assert val == f"w{winners[0]}".encode()

    def test_contended_upsert_latest_wins(self, engine):
        """Contended upsert on ONE key: exactly one OK_INSERT (first
        writer through the stripe), every other OK_UPDATE; replay keeps
        the value with the highest seq."""
        results = _run_all(
            lambda i: engine.kv_upsert(*ALICE, "hot", f"u{i}".encode())[1],
            range(WORKERS))
        assert sorted(results).count(codes.RES_OKINS) == 1
        assert sorted(results).count(codes.RES_OKUPD) == WORKERS - 1
        rows = (engine.kv_log.raw().filter("key = 'hot'")
                .orderBy("seq").select("seq", "value").collect())
        assert len(rows) == WORKERS
        _, _, val = engine.kv_get(*ALICE, "hot")
        assert val == bytes(rows[-1]["value"])
        _assert_unique_seqs(engine)

    def test_races_then_restart_replay(self, engine, spark, tmp_path):
        """Post-race durability: a fresh engine on the same directory
        replays to the same state and continues minting unique seqs
        (restart parity, p3/server/my_storage.cc:573-702)."""
        keys = [f"k{i}" for i in range(NKEYS)]
        _run_all(lambda k: engine.kv_insert(*ALICE, k, k.encode()), keys)
        _run_all(lambda k: engine.kv_delete(*ALICE, k), keys[::2])

        fresh = KVEngine(spark, str(tmp_path / "data"), admin="alice",
                         req_quota=1 << 30, up_quota=1 << 30,
                         down_quota=1 << 30)
        try:
            state = {r["key"]: bytes(r["value"]) for r in fresh.kv_df().collect()}
            assert state == {k: k.encode() for k in keys[1::2]}
            assert fresh.kv_insert(*ALICE, "post-restart", b"x")[1] == codes.RES_OK
            _assert_unique_seqs(fresh)
        finally:
            fresh.shutdown()

    def test_mixed_readers_and_writers(self, engine):
        """Readers never block writers (readers are lock-free snapshot
        scans); a mixed KVI/KVG/KVU storm leaves a consistent store."""
        keys = [f"m{i}" for i in range(NKEYS // 2)]
        _run_all(lambda k: engine.kv_insert(*ALICE, k, b"0"), keys)

        barrier = threading.Barrier(WORKERS)

        def storm(i):
            barrier.wait()
            k = keys[i % len(keys)]
            if i % 3 == 0:
                return engine.kv_upsert(*ALICE, k, f"s{i}".encode())[1]
            if i % 3 == 1:
                return engine.kv_get(*ALICE, k)[1]
            return engine.kv_all(*ALICE)[1]

        results = _run_all(storm, range(WORKERS))
        assert all(c in (codes.RES_OK, codes.RES_OKUPD, codes.RES_OKINS)
                   for c in results)
        assert engine.kv_df().count() == len(keys)
        _assert_unique_seqs(engine)


class TestSnapshotRaces:
    def test_an_append_is_seen_at_once_through_another_changelog(self, spark, tmp_path):
        """Six writer threads (more than the cores) append through one
        ChangeLog and read their own key back through another on the same
        directory, with a short switch interval: a read that starts after
        an append returned must see it, whatever listings or spills the
        reading side runs meanwhile."""
        import itertools
        import sys

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import ChangeLog

        root = str(tmp_path / "kv")
        writer, reader = (ChangeLog(spark, root, KV_SCHEMA, key_col="key")
                          for _ in range(2))
        writer.append([{"seq": 1, "op": "insert", "key": "t0", "value": b"base"}])
        writer.compact()
        assert reader.lookup("t0")["value"] == b"base"
        seqs, seq_lock = itertools.count(2), threading.Lock()

        def work(t):
            stale = []
            for i in range(25):
                with seq_lock:
                    seq = next(seqs)
                value = f"{t}-{i}".encode()
                writer.append([{"seq": seq, "op": "update", "key": f"t{t}",
                                "value": value}])
                row = reader.lookup(f"t{t}")
                if row is None or row["value"] != value:
                    stale.append((i, row and row["value"]))
            return stale

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=6) as pool:
                stale = [f.result(timeout=600) for f in
                         [pool.submit(work, t) for t in range(6)]]
        finally:
            sys.setswitchinterval(interval)
        assert stale == [[]] * 6, stale

    def test_readers_queued_on_one_append_list_the_directories_once(
            self, spark, tmp_path, monkeypatch):
        """Three readers find the generation moved by one append and queue
        on the publish lock.  The first lists the directories; the others
        take the snapshot it published for that generation."""
        import time

        from operating_system_map_reduce_spark.engine import KV_SCHEMA
        from operating_system_map_reduce_spark.sources.changelog import ChangeLog

        log = ChangeLog(spark, str(tmp_path / "kv"), KV_SCHEMA, key_col="key")
        log.append([{"seq": 1, "op": "insert", "key": "a", "value": b"1"}])
        log.snapshot()
        log.append([{"seq": 2, "op": "insert", "key": "b", "value": b"2"}])
        listings, queued, lock = [], [], log._lock
        layout_key = log.layout_key
        monkeypatch.setattr(log, "layout_key",
                            lambda: listings.append(1) or layout_key())

        class Queued:
            def __enter__(self):
                queued.append(1)
                return lock.__enter__()

            def __exit__(self, *exc):
                return lock.__exit__(*exc)

        log._lock = Queued()
        lock.acquire()
        with ThreadPoolExecutor(max_workers=3) as pool:
            try:
                futures = [pool.submit(log.snapshot) for _ in range(3)]
                deadline = time.monotonic() + 60
                while len(queued) < 3 and time.monotonic() < deadline:
                    time.sleep(0.01)
            finally:
                lock.release()
            snaps = [f.result(timeout=60) for f in futures]
        assert len(queued) == 3, queued
        assert len(listings) == 1, listings
        assert all(s is snaps[0] for s in snaps)
        assert snaps[0].seq == 2 and snaps[0].overlay.keys() == {"a", "b"}

    def test_readers_see_written_values_while_folds_run(self, engine):
        """One writer cycles KVU/KVD on a key while three readers KVG it
        and a fourth client runs KVA and SAV, which fold the log into a
        new base mid-race.  Every reply is a value the writer wrote, or
        ERR_KEY, and never an error."""
        values = [f"v{i}".encode() for i in range(18)]
        done = threading.Event()
        writer_codes: list[str] = []
        replies: list[tuple] = []

        def writer():
            try:
                for i, v in enumerate(values):
                    writer_codes.append(engine.kv_upsert(*ALICE, "hot", v)[1])
                    if i % 3 == 2:
                        writer_codes.append(engine.kv_delete(*ALICE, "hot")[1])
            finally:
                done.set()

        def reader(_):
            out = []
            while not done.is_set():
                try:
                    out.append(tuple(engine.kv_get(*ALICE, "hot")))
                except Exception as exc:  # reported by the assert below
                    out.append(("raised", repr(exc)))
            return out

        def scans():
            out = []
            while True:
                out.append(("kva", engine.kv_all(*ALICE)))
                out.append(("sav", engine.save_file(*ALICE)))
                if done.is_set():
                    return out

        with ThreadPoolExecutor(max_workers=5) as pool:
            readers = [pool.submit(reader, i) for i in range(3)]
            background = pool.submit(scans)
            pool.submit(writer).result(timeout=600)
            for r in readers:
                replies.extend(r.result(timeout=600))
            ran = background.result(timeout=600)
        assert set(writer_codes) <= {codes.RES_OKINS, codes.RES_OKUPD, codes.RES_OK}
        assert {name for name, _ in ran} == {"kva", "sav"}
        assert all(r in [(True, codes.RES_OK, b"hot"), (False, codes.RES_ERR_NO_DATA, None)]
                   for name, r in ran if name == "kva"), ran
        assert all(r == (True, codes.RES_OK, None) for name, r in ran if name == "sav"), ran
        assert replies
        bad = [r for r in replies
               if r != (False, codes.RES_ERR_KEY, None)
               and not (r[:2] == (True, codes.RES_OK) and r[2] in values)]
        assert not bad, bad[:5]
