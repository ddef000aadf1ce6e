"""The ``kv_service`` workload: three closed-loop readers and one paced
writer against one ``KVEngine``, with KMR, KVA and SAV on a fixed
schedule.

Each reader owns a shard of keys and sends KVG (95%) and KVT (5%) on
Zipf-skewed keys, each waiting for its reply before the next request;
three readers and the Spark tasks they start keep the machine's cores
busy.  The writer owns a shard of its own and sends one command per
READS_PER_WRITE reads, cycling KVU, KVU, KVI, KVD; KVI picks an absent
and KVD a present key, so every write appends to the changelog.  An
append makes the next commands rebuild the engine's cached replay
state, so latency is bimodal.  Pacing the writes by the reads fixes the
share of rebuilds: closed-loop writers made it depend on how the
clients' commands happened to interleave, and writers paced by the
clock made a slow host spend most reads waiting on rebuilds.

A further thread issues KVA and SAV at fixed points of the window, so
every run of a given length carries the same background load.  The
confined KMR with the global (non-associative) and the tree
(associative) reduce runs alone before the warm-up, which also starts
the Python workers: a 1-2 s map over every pair on all cores made the
point-op figures swing by more than their bounds from run to run.  The
warm-up lasts a fixed number of reads, so a slow host does not start
the window less warm, up to a time limit that bounds the run.

SAV runs alone: it waits for the commands in flight and holds off new
ones.  ``ChangeLog.compact`` deletes log files that a concurrent replay
may have just listed, which fails that reader; the gate keeps the
workload free of that race while SAV still stalls the clients.

Every reply is checked.  Only a shard's owner touches its keys, so a
per-shard shadow model predicts each response code and value exactly.
KMR checksums a read-only key range that no client writes, so it has
one exact expected value.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
import zlib

import numpy as np

from operating_system_map_reduce_spark import codes

READERS = 3
CLIENTS = READERS + 1   # the writer owns the last shard
READS_PER_WRITE = 20
RO_KEYS = 256
VALUE_BYTES = 1024
PRELOAD_BATCH = 2000
KMRS = ("cks_global", "cks_tree")
# background commands as (share of the window elapsed, command)
MEASURE_SCHEDULE = [(0.25, "kva"), (0.5, "sav")]
PASSWORD = "pw"
READ_CYCLE = ["kvg"] * 19 + ["kvt"]
WRITE_CYCLE = ["kvu", "kvu", "kvi", "kvd"]
WRITES = {"kvi", "kvu", "kvd"}

# Map/reduce pair registered through KVF: a checksum over the read-only
# range.  The reduce is a sum mod 2**64, so the tree fold gives the same
# bytes as the global one.
CHECKSUM_SRC = b'''
def map(key, value):
    import zlib
    if not key.startswith("ro:"):
        return b""
    return zlib.crc32(key.encode() + value).to_bytes(8, "big")


def reduce(values):
    total = 0
    for v in values:
        if v:
            total += int.from_bytes(v, "big")
    return (total % (1 << 64)).to_bytes(8, "big")
'''


def checksum(pairs) -> bytes:
    """What the KMR over ``pairs`` (key, value) must return."""
    total = sum(zlib.crc32(k.encode() + v) for k, v in pairs if k.startswith("ro:"))
    return (total % (1 << 64)).to_bytes(8, "big")


class Failures:
    """Thread-safe count of wrong replies and exceptions, with the first
    few kept for the report."""

    def __init__(self) -> None:
        self.n = 0
        self.first: list[str] = []
        self._lock = threading.Lock()

    def add(self, what: str) -> None:
        with self._lock:
            self.n += 1
            if len(self.first) < 5:
                self.first.append(what)


class SavGate:
    """Commands share the engine; SAV takes it alone, ahead of commands
    that arrive while it waits."""

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


class KVService:
    """One prepared engine plus the state the clients check against."""

    def __init__(self, spark, data_dir: str, seed: int, n_keys: int) -> None:
        from operating_system_map_reduce_spark.engine import KV_SCHEMA, KVEngine
        from operating_system_map_reduce_spark.sources.changelog import ChangeLog

        rng = np.random.default_rng([seed, 0])
        per_shard = (n_keys - RO_KEYS) // CLIENTS
        # each shard's key space is 25% larger than what is preloaded, so
        # KVI, KVG and KVD see both present and absent keys
        self.shard_keys = [[f"s{c}:{i:06d}" for i in range(per_shard * 5 // 4)]
                           for c in range(CLIENTS)]
        self.models: list[dict[str, bytes]] = [{} for _ in range(CLIENTS)]
        ro = [(f"ro:{i:05d}", rng.bytes(VALUE_BYTES)) for i in range(RO_KEYS)]
        pairs = list(ro)
        for c, keys in enumerate(self.shard_keys):
            for k in keys[:per_shard]:
                v = rng.bytes(VALUE_BYTES)
                self.models[c][k] = v
                pairs.append((k, v))
        self.ro_keys = {k for k, _ in ro}
        self.all_keys = self.ro_keys.union(*self.shard_keys)
        self.expected_kmr = checksum(ro)

        log = ChangeLog(spark, os.path.join(data_dir, "kv"), KV_SCHEMA, key_col="key")
        for i in range(0, len(pairs), PRELOAD_BATCH):
            log.append([{"seq": i + j + 1, "op": "insert", "key": k, "value": v}
                        for j, (k, v) in enumerate(pairs[i:i + PRELOAD_BATCH])])
        big = 1 << 50   # quotas no run can reach
        self.engine = KVEngine(spark, data_dir, admin="admin", up_quota=big,
                               down_quota=big, req_quota=big)
        for user in ["admin"] + [f"client{c}" for c in range(CLIENTS)]:
            self._expect(self.engine.add_user(user, PASSWORD), codes.RES_OK, user)
        for name, assoc in [("cks_global", False), ("cks_tree", True)]:
            self._expect(self.engine.register_mr("admin", PASSWORD, name,
                                                 CHECKSUM_SRC, assoc),
                         codes.RES_OK, name)
        self._expect(self.engine.save_file("admin", PASSWORD), codes.RES_OK, "SAV")
        self.gate = SavGate()

    @staticmethod
    def _expect(reply, code: str, what: str) -> None:
        if reply[1] != code:
            raise RuntimeError(f"set-up {what}: {reply[1]} != {code}")

    def kmr(self, name: str) -> bool:
        with self.gate.shared():
            ok, code, payload = self.engine.invoke_mr("admin", PASSWORD, name)
        return ok and code == codes.RES_OK and payload == self.expected_kmr

    def kva(self) -> bool:
        """KVA while clients write: every read-only key is listed, and
        every listed key belongs to the read-only range or a shard."""
        with self.gate.shared():
            ok, code, payload = self.engine.kv_all("admin", PASSWORD)
        if not (ok and code == codes.RES_OK):
            return False
        keys = set(payload.decode().split("\n"))
        return self.ro_keys <= keys <= self.all_keys

    def sav(self) -> bool:
        with self.gate.exclusive():
            return self.engine.save_file("admin", PASSWORD)[1] == codes.RES_OK


class Client:
    """One closed-loop client that owns shard ``c``."""

    def __init__(self, svc: KVService, c: int, rng: np.random.Generator,
                 failures: Failures, cycle: list[str]) -> None:
        self.svc, self.c, self.rng, self.failures = svc, c, rng, failures
        self.user = f"client{c}"
        self.keys = svc.shard_keys[c]
        self.model = svc.models[c]
        self.perm = rng.permutation(len(self.keys))
        self.ops = itertools.cycle(rng.permutation(cycle))
        self.lat: dict[str, list[float]] = {}

    def _key(self, op: str) -> str:
        """A Zipf-ranked key; KVI takes the first absent and KVD the first
        present key from that rank on, so every write appends."""
        rank = min(int(self.rng.zipf(1.1)), len(self.keys)) - 1
        want = {"kvi": False, "kvd": True}.get(op)
        for i in range(len(self.keys)):
            key = self.keys[self.perm[(rank + i) % len(self.keys)]]
            if want is None or (key in self.model) == want:
                return key
        raise RuntimeError(f"shard {self.c} has no key for {op}")

    def step(self) -> None:
        op = str(next(self.ops))
        key = self._key(op)
        value = self.rng.bytes(VALUE_BYTES)
        t = time.perf_counter()
        with self.svc.gate.shared():
            reply, want = self._send(op, key, value)
        self.lat.setdefault(op, []).append(time.perf_counter() - t)
        self._check(op, key, value, reply, want)

    def _send(self, op: str, key: str, value: bytes):
        """Send one command; returns the reply and the predicted one."""
        eng, u, model = self.svc.engine, self.user, self.model
        present = key in model
        if op == "kvg":
            reply = eng.kv_get(u, PASSWORD, key)
            want = (True, codes.RES_OK, model[key]) if present else (False, codes.RES_ERR_KEY, None)
        elif op == "kvi":
            reply = eng.kv_insert(u, PASSWORD, key, value)
            want = (False, codes.RES_ERR_KEY, None) if present else (True, codes.RES_OK, None)
        elif op == "kvu":
            reply = eng.kv_upsert(u, PASSWORD, key, value)
            want = (True, codes.RES_OKUPD if present else codes.RES_OKINS, None)
        elif op == "kvd":
            reply = eng.kv_delete(u, PASSWORD, key)
            want = (True, codes.RES_OK, None) if present else (False, codes.RES_ERR_KEY, None)
        else:
            reply = eng.kv_top(u, PASSWORD)
            want = None   # other clients move the MRU list, or empty it
        return reply, want

    def _check(self, op: str, key: str, value: bytes, reply, want) -> None:
        """Compare a reply with the prediction and apply it to the model."""
        if want is None:
            good = (reply[:2] == (False, codes.RES_ERR_NO_DATA)
                    or reply[:2] == (True, codes.RES_OK) and len(reply[2].split(b"\n")) <= 4)
        else:
            good = tuple(reply) == want
        if not good:
            self.failures.add(f"{op} {key}: got {reply[:2]} want {want[:2] if want else 'OK'}")
        elif op in ("kvi", "kvu") and reply[0]:
            self.model[key] = value
        elif op == "kvd" and reply[0]:
            del self.model[key]


def timed(svc: KVService, name: str, failures: Failures) -> float:
    """Run one background command, check it and return its latency."""
    command = {"kva": svc.kva, "sav": svc.sav}.get(name) or (lambda: svc.kmr(name))
    t = time.perf_counter()
    if not _guarded(failures, name, command):
        failures.add(f"{name}: wrong reply")
    return time.perf_counter() - t


def _guarded(failures: Failures, what: str, fn) -> bool:
    """Run one command; an exception is a failed operation."""
    try:
        return fn()
    except Exception as exc:
        failures.add(f"{what}: {type(exc).__name__}: {str(exc)[:400]}")
        return True   # already counted


def run(svc: KVService, seed: int, phase: int, seconds: float, schedule,
        reads: int | None = None) -> dict:
    """Drive the clients for ``seconds``, or until the readers have sent
    ``reads`` commands, with the background commands of ``schedule``;
    returns the latencies, counts and failures."""
    failures = Failures()
    clients = [Client(svc, c, np.random.default_rng([seed, phase, c]), failures,
                      READ_CYCLE if c < READERS else WRITE_CYCLE)
               for c in range(CLIENTS)]
    readers, writer = clients[:READERS], clients[READERS]
    background: dict[str, list[float]] = {name: [] for _, name in schedule}
    t0 = time.perf_counter()
    deadline = t0 + seconds
    done = False
    sent = 0   # reads sent by all readers
    cond = threading.Condition()

    def reader_loop(cl: Client) -> None:
        nonlocal done, sent
        while True:
            with cond:
                done = done or time.perf_counter() >= deadline or (
                    reads is not None and sent >= reads)
                if done:
                    cond.notify_all()
                    return
            _guarded(failures, f"client{cl.c}", lambda: cl.step() or True)
            with cond:
                sent += 1
                cond.notify_all()

    def writer_loop() -> None:
        for tick in itertools.count(1):
            with cond:
                cond.wait_for(lambda: done or sent >= tick * READS_PER_WRITE)
                if done:
                    return
            _guarded(failures, "writer", lambda: writer.step() or True)

    def background_loop() -> None:
        for share, name in schedule:
            time.sleep(max(0.0, t0 + share * seconds - time.perf_counter()))
            background[name].append(timed(svc, name, failures))

    threads = [threading.Thread(target=reader_loop, args=(cl,)) for cl in readers]
    threads += [threading.Thread(target=writer_loop),
                threading.Thread(target=background_loop)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    lat: dict[str, list[float]] = {}
    for cl in clients:
        for op, xs in cl.lat.items():
            lat.setdefault(op, []).extend(xs)
    point = [x for xs in lat.values() for x in xs]
    attempted = len(point) + sum(len(v) for v in background.values())
    return {"lat": lat, "point": point, "background": background,
            "attempted": attempted, "failures": failures}
