"""KVEngine: the reference server's complete client-visible surface
(p5/common/protocol.h, 15 commands) as a Spark-backed engine.

Method-per-command, mirroring Storage 1:1 (p5/server/storage.h:56-210);
every method returns ``(ok: bool, code: str, payload)`` with the exact
protocol.h response-code strings (codes.py).

State:
 - auth + kv tables: changelog-parquet tables (sources/changelog.py) --
   replay view is the current state, SAV compacts, restart replays;
   durability parity with p3.  Point reads (KVG, GET, the KVI/KVU/KVD
   existence probes) come from each log's driver-side snapshot of its
   files: the log overlay, then a memo, then a driver-side read of the
   row groups of the key-sorted base and of the spill (the log past the
   overlay's byte budget) that can hold the key, so no point read runs
   a Spark job.  Scans (KVA, ALL, KMR, export) read the base alone while
   the log is empty (right after SAV), else dedup(base ∪ spill ∪
   overlay).  Nothing is checkpointed.
 - credentials: the login check reads a driver-side map
   username -> (salt, pass_hash), the reference's in-memory auth map
   (p3/server/my_storage.cc:232-250): the credentials of the auth
   log's base and spill, read with pyarrow once per base and spill,
   under the auth overlay.  No login runs a Spark job.
 - seq: minted above every seq either log's snapshot has seen, so a
   write after another engine's writes on the same directory wins.
 - SAV runs alone: every command holds a shared gate, SAV holds it
   exclusive, so no scan's Spark read opens a log file that compaction
   removes (a point read that finds a file gone lists again).
 - quotas + MRU: bounded in-memory per-user metadata, exactly like the
   reference's deques (they are not persisted there either).
 - map/reduce: FuncTable registry + Spark-executed map with global or
   tree reduce (operators/mapreduce.py).

Charge-ordering semantics preserved from the reference (asserted by
p4/scripts/p4.py): LOGIN before anything; the upload/download check_add
is evaluated BEFORE the request check_add and its admission recorded
even when the request quota rejects, but ERR_QUOTA_REQ takes precedence
in the response (my_storage.cc:185-205); download sized *after* the
read; rejected charges are not recorded; admitted charges stick even if
the op then fails.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import secrets
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)

from operating_system_map_reduce_spark import codes
from operating_system_map_reduce_spark.operators.mapreduce import (FuncTable,
                                                                   run_map_reduce)
from operating_system_map_reduce_spark.operators.mru import MRUManager
from operating_system_map_reduce_spark.operators.quota import Quotas
from operating_system_map_reduce_spark.sources.changelog import ChangeLog

AUTH_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("op", StringType()),
    StructField("username", StringType()),
    StructField("salt", BinaryType()),
    StructField("pass_hash", BinaryType()),
    StructField("content", BinaryType()),
])

KV_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("op", StringType()),
    StructField("key", StringType()),
    StructField("value", BinaryType()),
])


class SavGate:
    """Commands share the engine; SAV takes it alone, ahead of commands
    that arrive while it waits.  Not reentrant: a command must not call
    another command."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._active = 0
        self._saving = False

    @contextlib.contextmanager
    def shared(self):
        with self._cond:
            self._cond.wait_for(lambda: not self._saving)
            self._active += 1
        try:
            yield
        finally:
            with self._cond:
                self._active -= 1
                self._cond.notify_all()

    @contextlib.contextmanager
    def exclusive(self):
        with self._cond:
            self._cond.wait_for(lambda: not self._saving)
            self._saving = True
            self._cond.wait_for(lambda: self._active == 0)
        try:
            yield
        finally:
            with self._cond:
                self._saving = False
                self._cond.notify_all()


def _command(method):
    """One client command: holds the SAV gate shared for its whole run."""
    @functools.wraps(method)
    def run(self, *args, **kwargs):
        with self._gate.shared():
            return method(self, *args, **kwargs)
    return run


class KVEngine:
    def __init__(self, spark: SparkSession, data_dir: str, admin: str = "",
                 up_quota: int = 1048576, down_quota: int = 1048576,
                 req_quota: int = 16, quota_interval: float = 60.0,
                 top_size: int = 4,
                 clock=time.monotonic):
        self.spark = spark
        self.admin = admin
        self._clock = clock
        self._quota_cfg = (up_quota, down_quota, req_quota, quota_interval)
        self.auth_log = ChangeLog(spark, os.path.join(data_dir, "auth"), AUTH_SCHEMA,
                                  key_col="username")
        self.kv_log = ChangeLog(spark, os.path.join(data_dir, "kv"), KV_SCHEMA,
                                key_col="key")
        self._seq = max(self.auth_log.max_seq(), self.kv_log.max_seq())
        self._seq_lock = threading.Lock()
        # Striped per-key write locks: the reference serializes writers
        # per hash bucket (p2/server/concurrenthashmap.h:40-43), which
        # is what makes its check-then-insert/upsert/remove atomic under
        # 1,024 concurrent clients (p2/scripts/grading_p2_races.py).
        self._stripes = [threading.Lock() for _ in range(64)]
        self._gate = SavGate()
        # (auth base and spill, their credentials) and (auth snapshot,
        # credentials under its overlay); replaced whole under
        # _cred_lock, never mutated, so readers take no lock
        self._cred_lock = threading.Lock()
        self._settled_creds: tuple = (None, {})
        self._creds: tuple = (None, {})
        self.quota_table: dict[str, Quotas] = {}
        self.mru = MRUManager(top_size)
        self.funcs = FuncTable()

    # ---------------------------------------------------------------- util

    def _key_lock(self, key: str) -> threading.Lock:
        """Writer lock for one hash stripe (per-bucket serialization,
        p2/server/concurrenthashmap.h:40-43): it makes a write's
        existence probe and its append atomic.  Readers take no stripe:
        each read is served by one published snapshot of fsync'd files,
        which the next layout change replaces whole."""
        return self._stripes[hash(key) & 63]

    def _next_seq(self) -> int:
        """Unique, monotone changelog sequence, above every seq either
        log's snapshot has seen: another engine on the same directory
        mints from its own counter, and a write below its records would
        lose to them in replay.  Locked: concurrent clients minting the
        same seq would corrupt replay's latest-wins order (the reference
        serializes writes per bucket, p2/server/concurrenthashmap.h:40-43)."""
        with self._seq_lock:
            self._seq = max(self._seq, self.auth_log.seen_seq(),
                            self.kv_log.seen_seq()) + 1
            return self._seq

    def auth_df(self) -> DataFrame:
        return self.auth_log.replay_cached()

    def kv_df(self) -> DataFrame:
        return self.kv_log.replay_cached()

    def _credentials(self) -> dict[str, tuple[bytes, bytes]]:
        """username -> (salt, pass_hash) as of the auth log's current
        snapshot: the credentials of its base and spill, read with
        pyarrow once per base and spill, under the overlay's records
        (appends by any engine on this directory).  No login runs a
        Spark job."""
        snap, creds = self.auth_log.snapshot(), self._creds
        if creds[0] is snap:
            return creds[1]
        with self._cred_lock:
            creds = self._creds
            if creds[0] is not snap:
                settled, known = self._settled_creds
                if settled != snap.settled:
                    snap, rows = self.auth_log.settled_rows(["username", "salt", "pass_hash"])
                    known = {r["username"]: (r["salt"], r["pass_hash"]) for r in rows}
                    self._settled_creds = (snap.settled, known)
                merged = dict(known)
                for user, row in snap.overlay.items():
                    if row["op"] == "delete":
                        merged.pop(user, None)
                    else:
                        merged[user] = (row["salt"], row["pass_hash"])
                creds = self._creds = (snap, merged)
        return creds[1]

    def _auth(self, user: str, password: str):
        """Salted-hash check (p3/server/my_storage.cc:232-250); returns
        the user's (salt, pass_hash), or None when the login fails."""
        cred = self._credentials().get(user)
        if cred is None:
            return None
        salt, pass_hash = cred
        if hashlib.sha256(password.encode() + salt).digest() != pass_hash:
            return None
        return cred

    def _quotas(self, user: str) -> Quotas:
        q = self.quota_table.get(user)
        if q is None:
            up, down, req, interval = self._quota_cfg
            # setdefault is atomic under the GIL: two racing clients get
            # the SAME Quotas object, never a silently replaced one.
            q = self.quota_table.setdefault(user, Quotas.build(up, down, req, interval))
        return q

    def _charge_request(self, user: str) -> bool:
        return self._quotas(user).requests.check_add(1, self._clock())

    def _charge_pair(self, user: str, channel: str, amount: int):
        """Reference charge ordering (p4/server/my_storage.cc:185-205,
        256-276, 441-460, 483-501): the upload/download check_add runs
        BEFORE the request check_add, and its admission is recorded even
        when the request quota rejects; the request error then takes
        precedence in the response.  Returns (req_ok, channel_ok)."""
        q = self._quotas(user)
        now = self._clock()
        channel_ok = getattr(q, channel).check_add(amount, now)
        req_ok = q.requests.check_add(1, now)
        return req_ok, channel_ok

    # ---------------------------------------------------------- auth table

    @_command
    def add_user(self, user: str, password: str):
        """REG (protocol.h:95-109): insert-if-absent with fresh salt."""
        if not user or len(user) > codes.LEN_UNAME or len(password) > codes.LEN_PASSWORD:
            return False, codes.RES_ERR_REQ_FMT, None
        with self._key_lock(user):
            # a REG that held this stripe before us appended, which
            # changed the layout, so the map is rebuilt and holds it
            if user in self._credentials():
                return False, codes.RES_ERR_USER_EXISTS, None
            salt = secrets.token_bytes(16)
            self.auth_log.append([{
                "seq": self._next_seq(), "op": "insert", "username": user,
                "salt": salt,
                "pass_hash": hashlib.sha256(password.encode() + salt).digest(),
                "content": b"",
            }])
        return True, codes.RES_OK, None

    @_command
    def set_user_data(self, user: str, password: str, content: bytes):
        """SET (protocol.h:152-168): replace caller's profile bytes."""
        if len(content) > codes.LEN_PROFILE_FILE:
            return False, codes.RES_ERR_REQ_FMT, None
        cred = self._auth(user, password)
        if cred is None:
            return False, codes.RES_ERR_LOGIN, None
        salt, pass_hash = cred
        self.auth_log.append([{
            "seq": self._next_seq(), "op": "update", "username": user,
            "salt": salt, "pass_hash": pass_hash,
            "content": bytes(content),
        }])
        return True, codes.RES_OK, None

    @_command
    def get_user_data(self, user: str, password: str, who: str):
        """GET (protocol.h:170-188): fetch another user's profile."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        row = self.auth_log.lookup(who)
        if row is None:
            return False, codes.RES_ERR_NO_USER, None
        content = row["content"] or b""
        if not content:
            return False, codes.RES_ERR_NO_DATA, None
        return True, codes.RES_OK, content

    @_command
    def get_all_users(self, user: str, password: str):
        """ALL (protocol.h:190-206): newline-joined usernames, from the
        credential map, which holds every live user: no Spark job."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        return True, codes.RES_OK, "\n".join(self._credentials()).encode()

    # ------------------------------------------------------------ kv store

    @_command
    def kv_insert(self, user: str, password: str, key: str, value: bytes):
        """KVI (protocol.h:263-285): insert-if-absent; request then upload
        quota (p4/server/my_storage.cc:180-233); MRU update + log append."""
        if not key or len(key) > codes.LEN_KEY or len(value) > codes.LEN_VAL:
            return False, codes.RES_ERR_REQ_FMT, None
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        req_ok, up_ok = self._charge_pair(user, "uploads", len(value))
        if not req_ok:
            return False, codes.RES_ERR_QUOTA_REQ, None
        if not up_ok:
            return False, codes.RES_ERR_QUOTA_UP, None
        with self._key_lock(key):
            exists = self.kv_log.lookup(key) is not None
            if exists:
                return False, codes.RES_ERR_KEY, None
            self.kv_log.append([{"seq": self._next_seq(), "op": "insert",
                                 "key": key, "value": bytes(value)}])
        self.mru.insert(key)
        return True, codes.RES_OK, None

    @_command
    def kv_get(self, user: str, password: str, key: str):
        """KVG (protocol.h:287-306): point read; download quota is sized by
        the value and charged after the read -- a blocked download is NOT
        recorded (p4/scripts/p4.py:81-83).  A missing key still charges
        the request and a 0-byte download, and quota errors take
        precedence over ERR_KEY (my_storage.cc:243-283)."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        row = self.kv_log.lookup(key)
        value = (row["value"] or b"") if row is not None else b""
        req_ok, down_ok = self._charge_pair(user, "downloads", len(value))
        if not req_ok:
            return False, codes.RES_ERR_QUOTA_REQ, None
        if not down_ok:
            return False, codes.RES_ERR_QUOTA_DOWN, None
        if row is None:
            return False, codes.RES_ERR_KEY, None
        self.mru.insert(key)
        return True, codes.RES_OK, value

    @_command
    def kv_delete(self, user: str, password: str, key: str):
        """KVD (protocol.h:308-325): tombstone append; request quota only."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        if not self._charge_request(user):
            return False, codes.RES_ERR_QUOTA_REQ, None
        with self._key_lock(key):
            exists = self.kv_log.lookup(key) is not None
            if not exists:
                return False, codes.RES_ERR_KEY, None
            self.kv_log.append([{"seq": self._next_seq(), "op": "delete",
                                 "key": key, "value": None}])
        self.mru.remove(key)
        return True, codes.RES_OK, None

    @_command
    def kv_upsert(self, user: str, password: str, key: str, value: bytes):
        """KVU (protocol.h:327-347): distinct OK_INSERT / OK_UPDATE codes
        via existence probe (the MERGE-metrics pattern, SURVEY 2.1 #11)."""
        if not key or len(key) > codes.LEN_KEY or len(value) > codes.LEN_VAL:
            return False, codes.RES_ERR_REQ_FMT, None
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        req_ok, up_ok = self._charge_pair(user, "uploads", len(value))
        if not req_ok:
            return False, codes.RES_ERR_QUOTA_REQ, None
        if not up_ok:
            return False, codes.RES_ERR_QUOTA_UP, None
        with self._key_lock(key):
            exists = self.kv_log.lookup(key) is not None
            self.kv_log.append([{"seq": self._next_seq(),
                                 "op": "update" if exists else "insert",
                                 "key": key, "value": bytes(value)}])
        self.mru.insert(key)
        return True, codes.RES_OKUPD if exists else codes.RES_OKINS, None

    @_command
    def kv_all(self, user: str, password: str):
        """KVA (protocol.h:349-367): all keys, newline-joined; download
        quota sized by the result.  ERR_NO_DATA is returned BEFORE any
        quota charge; otherwise download-then-request are both evaluated
        with the request error taking precedence (my_storage.cc:425-463)."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        keys = [r["key"] for r in self.kv_df().select("key").collect()]
        if not keys:
            return False, codes.RES_ERR_NO_DATA, None
        payload = "\n".join(keys).encode()
        req_ok, down_ok = self._charge_pair(user, "downloads", len(payload))
        if not req_ok:
            return False, codes.RES_ERR_QUOTA_REQ, None
        if not down_ok:
            return False, codes.RES_ERR_QUOTA_DOWN, None
        return True, codes.RES_OK, payload

    @_command
    def kv_top(self, user: str, password: str):
        """KVT (protocol.h:393-411): MRU keys, most-recent-first (order is
        asserted by p4/scripts/p4.py:127-128).  Quota charges (download
        sized by the payload, then request) happen BEFORE the empty-MRU
        check, with the request error first (my_storage.cc:473-508)."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        keys = self.mru.get()
        payload = "\n".join(keys).encode() if keys else b""
        req_ok, down_ok = self._charge_pair(user, "downloads", len(payload))
        if not req_ok:
            return False, codes.RES_ERR_QUOTA_REQ, None
        if not down_ok:
            return False, codes.RES_ERR_QUOTA_DOWN, None
        if not keys:
            return False, codes.RES_ERR_NO_DATA, None
        return True, codes.RES_OK, payload

    # -----------------------------------------------------------mapreduce

    @_command
    def register_mr(self, user: str, password: str, mrname: str, source: bytes,
                    associative: bool = False):
        """KVF (protocol.h:471-494): admin-only registration of a named
        map/reduce pair from source bytes."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        if user != self.admin:
            return False, codes.RES_ERR_LOGIN, None
        code = self.funcs.register_source(mrname, source, associative)
        return (code == codes.RES_OK), code, None

    @_command
    def invoke_mr(self, user: str, password: str, mrname: str,
                  confined: bool = True):
        """KMR (protocol.h:447-469): run the named map over every kv pair
        of a consistent snapshot, then the global reduce.

        Confined by default, matching the reference: it forks + applies
        SECCOMP_MODE_STRICT before running user code
        (p5/server/my_storage.cc:282-285); our analog is the rlimit
        sandbox in operators/confine.py (no new fds, no spawn, no
        regular-file growth, CPU budget).  ``confined=False`` opts out
        for trusted functions on the hot path."""
        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        if not self._charge_request(user):
            return False, codes.RES_ERR_QUOTA_REQ, None
        entry = self.funcs.get(mrname)
        if entry is None:
            return False, codes.RES_ERR_FUNC, None
        map_fn, reduce_fn, associative = entry
        ok, code, payload = run_map_reduce(self.kv_df(), map_fn, reduce_fn,
                                           associative, confined=confined)
        return ok, code, payload if ok else None

    # --------------------------------------------------------- persistence

    def save_file(self, user: str, password: str):
        """SAV (protocol.h:131-150): compact both changelogs -- the
        write-tmp-then-rename snapshot (p3/server/my_storage.cc:505-565)."""
        with self._gate.exclusive():
            if self._auth(user, password) is None:
                return False, codes.RES_ERR_LOGIN, None
            self.auth_log.compact()
            self.kv_log.compact()
            return True, codes.RES_OK, None

    @_command
    def import_reference_file(self, user: str, password: str, path: str):
        """Reverse migration: replay a reference-format persistence file
        (p3/server/format.h grammar, ALL five tags) into the engine's
        changelogs, exactly the reference's load_file dispatch
        (p3/server/my_storage.cc:573-702) INCLUDING degenerate files the
        reference would not self-produce: AUTHAUTH/KVKVKVKV go through
        Map::insert, which FAILS on an existing key (first value wins on
        a duplicate); AUTHDIFF upserts -- for an unknown user,
        do_with_readonly leaves the credential locals empty, so the
        upsert creates an entry with EMPTY salt/pass_hash
        (my_storage.cc:614-641); KVDELETE frees the key so a later
        KVKVKVKV insert succeeds.  Presence + credential state is
        tracked driver-side across the scan (keys and credential bytes
        only, never values -- the format is one sequential file by
        design, so the scan itself is inherently driver-side), seeded
        from the live state because import appends into an existing
        log rather than the reference's clear-then-load.  Entries that
        survive dispatch become ordered changelog appends, so
        latest-seq-wins replay reproduces the sequential apply.  A
        missing file is success with zero entries (my_storage.cc:574-578
        treats file-not-found as a fresh start).  Returns the number of
        entries READ (failed duplicate inserts are read-and-dropped, as
        in the reference, but still counted)."""
        from operating_system_map_reduce_spark.sources import binlog as B

        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        if not os.path.exists(path):
            return True, codes.RES_OK, 0
        auth_state = dict(self._credentials())
        kv_present: set[str] = {
            r["key"]
            for r in self.kv_log.replay_cached().select("key").collect()}
        n = 0
        auth_rows: list[dict] = []
        kv_rows: list[dict] = []
        for tag, *fields in B.read_entries(path):
            n += 1
            seq = self._next_seq()
            if tag == B.AUTHENTRY:
                uname, salt, phash, content = fields
                u = uname.decode()
                if u in auth_state:
                    continue  # Map::insert on an existing key: first wins
                auth_state[u] = (bytes(salt), bytes(phash))
                auth_rows.append({
                    "seq": seq, "op": "insert",
                    "username": u, "salt": bytes(salt),
                    "pass_hash": bytes(phash), "content": bytes(content)})
            elif tag == B.AUTHDIFF:
                uname, content = fields
                u = uname.decode()
                # profile-only diff: upsert with carried-forward
                # credentials; empty bytes when the user is unknown
                # (my_storage.cc:636-641 upserts the empty locals).
                salt, phash = auth_state.get(u, (b"", b""))
                auth_state[u] = (salt, phash)
                auth_rows.append({
                    "seq": seq, "op": "update", "username": u,
                    "salt": salt, "pass_hash": phash,
                    "content": bytes(content)})
            elif tag in (B.KVENTRY, B.KVUPDATE):
                key, val = fields
                k = key.decode()
                if tag == B.KVENTRY and k in kv_present:
                    continue  # Map::insert on an existing key: first wins
                kv_present.add(k)
                kv_rows.append({
                    "seq": seq,
                    "op": "insert" if tag == B.KVENTRY else "update",
                    "key": k, "value": bytes(val)})
            elif tag == B.KVDELETE:
                (key,) = fields
                k = key.decode()
                kv_present.discard(k)
                kv_rows.append({"seq": seq, "op": "delete",
                                "key": k, "value": b""})
        if auth_rows:
            self.auth_log.append(auth_rows)
        if kv_rows:
            self.kv_log.append(kv_rows)
        return True, codes.RES_OK, n

    @_command
    def export_reference_file(self, user: str, password: str, path: str):
        """SAV-to-reference-format export: serialize the live state as
        AUTHAUTH + KVKVKVKV entries (p3/server/format.h grammar, byte-
        compatible with the reference's load path and its tests'
        verify_filesize arithmetic).  The parquet changelog stays the
        native durability; this is the migration artifact.  Streams
        through the driver (toLocalIterator) like the protocol's
        payload folds -- the format is one sequential file by design."""
        from operating_system_map_reduce_spark.sources import binlog as B

        if self._auth(user, password) is None:
            return False, codes.RES_ERR_LOGIN, None
        with open(path, "wb"):
            pass  # truncate: export is a full snapshot, not an append

        def entries():
            for r in (self.auth_df()
                      .select("username", "salt", "pass_hash", "content")
                      .toLocalIterator()):
                content = bytes(r["content"]) if r["content"] is not None else b""
                yield (B.AUTHENTRY, r["username"].encode(),
                       bytes(r["salt"]), bytes(r["pass_hash"]), content)
            for r in self.kv_df().select("key", "value").toLocalIterator():
                yield (B.KVENTRY, r["key"].encode(), bytes(r["value"]))

        n = B.write_entries(path, entries())
        return True, codes.RES_OK, n

    def shutdown(self) -> None:
        """BYE-side teardown (the engine object, not the SparkSession --
        sessions are shared in tests)."""
        self.funcs.clear()
