"""Append-only changelog with replay + compaction, served from a
driver-side snapshot.

Spark-first re-expression of the reference's durability design
(p3/server/format.h, p3/server/my_storage.cc:505-702): every mutation is
an appended log record; state = replay view (latest seq per key wins,
tombstones drop the key); SAV = compaction (rewrite base from the
current snapshot, truncate the log).

Physical layout per table:
    <root>/base/       -- compacted snapshot parquet (written by compact(),
                          range-partitioned and sorted by key)
    <root>/log/        -- one small parquet file per append batch
    <root>/generation  -- one byte appended per layout change (append,
                          stream-sink batch, compaction), after it is on
                          disk; its size tells a reader whether to list
                          base/ and log/ again

Appends are driver-side pyarrow writes (a log append is a server-side
action, ~ms, no Spark job).  The 100 TB ingestion path is
``ChangelogStreamSink`` below: a Structured Streaming sink writing this
same layout distributed, interleavable with driver appends.
``replay()`` is one shuffle on key (window dedup) regardless of log
file count and needs no ordering assumption across files.

Serving reads: the reference answers point ops from an in-memory Map and
replays its log only at load (p3/server/my_storage.cc:573-702).  Here a
``ChangeLog`` keeps one ``Snapshot`` per log, replaced whole:

 - ``state``: the replay of the base and the log files folded so far,
   eagerly checkpointed; scans read it;
 - ``overlay``: driver-side ``key -> latest record`` of the whole log
   since the base, read with pyarrow.  It follows the on-disk layout,
   listed again whenever the generation moved, so appends by another
   engine or by the stream sink show up too;
 - ``groups``: the base's footer index, ``(min key, max key, file,
   footer, row group)`` from the parquet footers, built once per base;
 - ``memo``: a bounded ``key -> row | None`` of point reads, exact for
   as long as that state serves.

``lookup`` answers from the overlay, then the memo, then a pyarrow read
of the base row groups whose key range holds the key (one, on a base
``compact`` wrote; none for a key outside every range), with no Spark
job.  Only when the log since the base is past the byte budget, or holds
a record that does not sort after the base, does the overlay shrink to
the tail past the state and a memo miss run one Spark point read on the
state.  Scans (``replay_cached``) read the state, or ``dedup(state ∪
tail files)`` when there is a tail.  The tail is folded into a new state
past a file-count budget, from the overlay's records when it holds them,
which changes only what scans read; the state is rebuilt from the files
only when the base changes under it or a tail record does not sort after
it.  ``compact`` writes the base from the folded state, so the engine's
own SAV keeps the state and its memo.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# log files scans read past the state before they are folded into it
FOLD_FILES = 64
# the log the overlay holds; past it, point reads go to Spark until SAV
FOLD_BYTES = 8 << 20
# parquet row-group target of the base: a point read decodes one group
ROW_GROUP_BYTES = 256 << 10
# point reads remembered per state; a larger row is read again each
# time, so the memo stays within MEMO_KEYS * MEMO_ROW_BYTES
MEMO_KEYS = 4096
MEMO_ROW_BYTES = 16 << 10

_MISS = object()


def fsync_dir(path: str) -> None:
    """fsync a directory so renames INTO it are durable, not just the
    renamed bytes.  POSIX: rename persistence requires fsyncing the
    containing directory; data-file fsync alone leaves the new directory
    entry in the page cache."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


@dataclass(eq=False)
class Snapshot:
    """One consistent view of a log as of ``layout``.  Published whole
    and never changed, except that ``memo`` fills with point reads
    (shared by every snapshot over that state) and ``scan`` is built on
    first use.

    With ``groups`` set, the overlay holds every log file since the base
    and a memo miss reads the base's row groups; without, it holds the
    tail and a memo miss reads the state with Spark."""

    layout: tuple                     # (base files, log files) covered
    state: DataFrame | None = None    # None: to be rebuilt from the files
    empty: bool = False               # state read from no file: nothing in it
    state_seq: int = 0                # highest seq folded into state
    tail: tuple = ()                  # log files not in state, all above state_seq
    overlay: dict | None = None       # key -> latest record; None: not loaded
    overlay_bytes: int = 0            # size of the log files the overlay holds
    groups: tuple | None = None       # base footer index: (lo, hi, file, footer, group)
    seq: int = 0                      # highest seq in state and tail
    memo: dict = field(default_factory=dict)
    scan: DataFrame | None = None

    @property
    def answers(self) -> bool:
        return self.state is not None and self.overlay is not None

    @property
    def due(self) -> bool:
        """The tail should be folded before the next read, and must be
        unless the snapshot still ``answers``."""
        return not self.answers or len(self.tail) > FOLD_FILES


class ChangeLog:
    def __init__(self, spark: SparkSession, root: str, schema: StructType,
                 key_col: str, seq_col: str = "seq", op_col: str = "op"):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.key_col = key_col
        self.seq_col = seq_col
        self.op_col = op_col
        self._arrow_schema = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType.simpleString())) for f in schema.fields]
        )
        os.makedirs(self.base_dir, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)
        # (generation when listed, the snapshot published for that listing)
        self._seen: tuple[int, Snapshot | None] = (-1, None)
        os.close(os.open(self.generation_path, os.O_WRONLY | os.O_CREAT, 0o644))
        self._lock = threading.Lock()        # publishes snapshots
        self._build_lock = threading.Lock()  # one fold, rebuild or compaction
        self._memo_lock = threading.Lock()

    @property
    def base_dir(self) -> str:
        return os.path.join(self.root, "base")

    @property
    def log_dir(self) -> str:
        return os.path.join(self.root, "log")

    @property
    def generation_path(self) -> str:
        return os.path.join(self.root, "generation")

    def _generation(self) -> int:
        """How many layout changes were announced: the size of the
        generation file, one ``stat``."""
        return os.stat(self.generation_path).st_size

    def _announce(self) -> None:
        """Announce a layout change that is complete on disk: one byte
        appended (atomically, O_APPEND) to the generation file.  Readers
        list the directories again only after its size moved."""
        fd = os.open(self.generation_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, b".")
        finally:
            os.close(fd)

    # -- write path --------------------------------------------------------

    def append(self, rows: list[dict]) -> None:
        """Durably append one batch of log records (fsync'd, mirroring the
        reference's fsync-before-reply at p4/server/my_storage.cc:230-231).
        The log DIRECTORY is fsync'd after the rename: data fsync alone
        leaves the new directory entry volatile, so a crash after rename
        could otherwise lose the append despite the durable bytes."""
        if not rows:
            return
        cols = {f.name: [r.get(f.name) for r in rows] for f in self.schema.fields}
        table = pa.table(cols, schema=self._arrow_schema)
        path = os.path.join(self.log_dir, f"batch-{rows[0][self.seq_col]:020d}-{uuid.uuid4().hex[:8]}.parquet")
        tmp = path + ".tmp"
        # encoded in memory, then written and fsync'd through one file
        # descriptor: fewer system calls, each a point where a client
        # thread waits to take the interpreter lock back
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        with open(tmp, "wb") as f:
            f.write(buf.getvalue())
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        self._announce()
        fsync_dir(self.log_dir)

    # -- read path ---------------------------------------------------------

    @staticmethod
    def _list(d: str) -> list[str]:
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]

    def _log_paths(self, names) -> list[str]:
        return [os.path.join(self.log_dir, f) for f in names]

    def raw(self) -> DataFrame:
        """base ∪ log, no dedup."""
        parts = [self._read_files(files)
                 for files in (self._list(self.base_dir), self._list(self.log_dir))
                 if files]
        if not parts:
            return self.spark.createDataFrame([], self.schema)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _dedup(self, df: DataFrame) -> DataFrame:
        """latest seq per key wins; delete-ops drop the key."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(self.key_col).orderBy(F.desc(self.seq_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(F.col(self.op_col) != "delete")
            .drop("__rn")
        )

    def replay(self) -> DataFrame:
        """Current state: latest seq per key wins; delete-ops drop the key.
        Equivalent to the reference's sequential load_file replay
        (p3/server/my_storage.cc:573-702) but order-independent and
        distributed: one shuffle on the key column."""
        return self._dedup(self.raw())

    def replay_asof(self, seq: int) -> DataFrame:
        """Time travel: the state AS OF sequence ``seq`` (inclusive) --
        what replay() would have returned the moment that record was
        appended.  The append-only log makes every historical snapshot
        a FILTER (seq <= S) ahead of the same one-shuffle dedup; the
        reference gets the same semantics by stopping its sequential
        load_file replay after S records (my_storage.cc:573-702 applies
        strictly in file order).  Caveat: compaction (SAV) rewrites the
        base as a snapshot (records keep their latest seq) and truncates
        the log, so snapshots OLDER than the last compaction are no
        longer addressable: asof(S) below the compacted records' seqs
        sees only the survivors with seq <= S, possibly nothing --
        exactly the reference's SAV contract, which persists current
        state, not history.  Exact for every S since the last
        compaction (pinned in tests/test_binlog.py)."""
        return self._dedup(
            self.raw().filter(F.col(self.seq_col) <= F.lit(seq)))

    def _read_files(self, files: list[str]) -> DataFrame:
        return self.spark.read.schema(self.schema).parquet(*files)

    def _read_tail(self, paths: list[str]) -> list[dict]:
        """The records of log files ``paths``, read on the driver."""
        return [row for p in paths
                for row in pq.read_table(p, schema=self._arrow_schema).to_pylist()]

    def _seq_range(self, paths: list[str]) -> tuple[float, int]:
        """(lowest, highest) seq in the parquet files ``paths`` from their
        footer statistics; (inf, 0) when they hold no record."""
        lo, hi = float("inf"), 0
        for p in paths:
            meta = pq.read_metadata(p)
            col = meta.schema.names.index(self.seq_col)
            stats = [meta.row_group(i).column(col).statistics
                     for i in range(meta.num_row_groups)]
            if all(s is not None and s.has_min_max for s in stats):
                pairs = [(s.min, s.max) for s in stats]
            else:
                seqs = pq.read_table(p, columns=[self.seq_col]).column(0).to_pylist()
                pairs = [(min(seqs), max(seqs))] if seqs else []
            for a, b in pairs:
                lo, hi = min(lo, a), max(hi, b)
        return lo, hi

    def _footer_index(self, paths: list[str]) -> tuple:
        """``(min key, max key, file, footer, row group)`` for every
        non-empty row group of the parquet files ``paths``, from their
        footers; a group without key statistics gets ``None`` bounds and
        is read for every key."""
        groups = []
        for p in paths:
            meta = pq.read_metadata(p)
            col = meta.schema.names.index(self.key_col)
            for i in range(meta.num_row_groups):
                if meta.row_group(i).num_rows == 0:
                    continue
                s = meta.row_group(i).column(col).statistics
                lo, hi = (s.min, s.max) if s is not None and s.has_min_max else (None, None)
                groups.append((lo, hi, p, meta, i))
        return tuple(groups)

    def _read_group(self, path: str, meta, i: int, key: str) -> list[dict]:
        """The records of ``key`` in row group ``i`` of base file ``path``."""
        with pq.ParquetFile(path, metadata=meta) as f:
            group = f.read_row_group(i, use_threads=False)
        return group.filter(pc.equal(group[self.key_col], key)).to_pylist()

    def layout_key(self) -> tuple[tuple[str, ...], tuple[str, ...]]:
        """Cheap (listdir-only, no Spark job) fingerprint of the
        on-disk layout: (base files, log files)."""
        base = tuple(sorted(os.listdir(self.base_dir)))
        log = tuple(sorted(f for f in os.listdir(self.log_dir)
                           if f.endswith(".parquet")))
        return base, log

    def max_seq(self) -> int:
        """Highest seq on disk, from parquet footer statistics."""
        return self._seq_range(self._list(self.base_dir) + self._list(self.log_dir))[1]

    def seen_seq(self) -> int:
        """Highest seq of any record the current snapshot covers."""
        snap = self._seen[1]
        return snap.seq if snap is not None else 0

    # -- snapshot ----------------------------------------------------------

    def snapshot(self) -> Snapshot:
        """The snapshot of the current on-disk layout.  A snapshot that is
        due for a fold but still answers is returned at once while
        another thread folds; otherwise this thread folds first."""
        while True:
            snap = self._refresh()
            if not snap.due:
                return snap
            if not self._build_lock.acquire(blocking=not snap.answers):
                return snap
            try:
                snap = self._refresh()
                if snap.due:
                    self._publish(self._fold(snap) if snap.state is not None
                                  else self._rebuild(snap.layout))
            finally:
                self._build_lock.release()

    def _refresh(self) -> Snapshot:
        """The published snapshot, brought to the on-disk layout.  The
        directories are listed again only when the generation moved
        since the listing the snapshot was published for: a writer
        announces a change once it is on disk."""
        gen, snap = self._seen
        if snap is not None and gen == self._generation():
            return snap
        with self._lock:
            self._advance_to_disk(self._seen[1])
            return self._seen[1]

    def _publish(self, snap: Snapshot) -> None:
        with self._lock:
            self._advance_to_disk(snap)

    def _advance_to_disk(self, snap: Snapshot | None) -> None:
        # under _lock: the generation is read before the listing, and
        # listings never go back past the published layout
        gen = self._generation()
        self._seen = (gen, self._advance(snap, self.layout_key()))

    def _advance(self, snap: Snapshot | None, layout) -> Snapshot:
        """``snap`` brought to ``layout`` without a Spark job: the log
        files appended since are read into the overlay while the files
        it holds stay within the byte budget (sized before anything is
        read).  A new base, a removed file or a record that does not sort
        after the state leaves the state to be rebuilt."""
        if snap is not None and snap.layout == layout:
            return snap
        seq = snap.seq if snap is not None else 0
        if (snap is None or snap.state is None or snap.layout[0] != layout[0]
                or not set(snap.layout[1]) <= set(layout[1])):
            return Snapshot(layout, seq=seq)
        known = set(snap.layout[1])
        new = [f for f in layout[1] if f not in known]
        paths = self._log_paths(new)
        try:
            lo, hi = self._seq_range(paths)
            seq = max(seq, hi)
            if lo <= snap.state_seq:
                return Snapshot(layout, seq=seq)
            size = snap.overlay_bytes + sum(os.path.getsize(p) for p in paths)
            overlay = groups = None
            if snap.overlay is not None and size <= FOLD_BYTES:
                overlay, groups = dict(snap.overlay), snap.groups
                for row in self._read_tail(paths):
                    cur = overlay.get(row[self.key_col])
                    if cur is None or row[self.seq_col] > cur[self.seq_col]:
                        overlay[row[self.key_col]] = row
        except FileNotFoundError:  # removed by a compaction elsewhere
            return Snapshot(layout, seq=seq)
        return Snapshot(layout, snap.state, snap.empty, snap.state_seq,
                        snap.tail + tuple(new), overlay, size, groups, seq, snap.memo)

    def _fold(self, snap: Snapshot) -> Snapshot:
        """``snap`` with its tail folded into a new state.  When the
        overlay holds the tail, its latest record per key is shipped from
        the driver (as Arrow) instead of reading the tail's files, and
        the memo moves over with those records, which the new state
        holds.  An overlay over the base keeps serving point reads: the
        fold only changes what scans read."""
        if not snap.tail:
            return snap
        memo = {}
        if snap.overlay is not None:
            rows = [r for r in snap.overlay.values() if r[self.seq_col] > snap.state_seq]
            memo = dict(snap.memo)
            _remember(memo, ((r[self.key_col], self._live(r)) for r in rows))
            tail = self.spark.createDataFrame(
                pa.Table.from_pylist(rows, schema=self._arrow_schema))
            hi = max((r[self.seq_col] for r in rows), default=0)
        else:
            paths = self._log_paths(snap.tail)
            tail = self._read_files(paths)
            hi = self._seq_range(paths)[1]
        state = _checkpoint(self._dedup(snap.state.unionByName(tail)))
        keep = snap.groups is not None
        return Snapshot(snap.layout, state, False, max(snap.state_seq, hi),
                        overlay=snap.overlay if keep else {},
                        overlay_bytes=snap.overlay_bytes if keep else 0,
                        groups=snap.groups, seq=max(snap.seq, hi), memo=memo)

    def _rebuild(self, layout, fold_all: bool = False) -> Snapshot:
        """A state replayed from the files of ``layout``: the base alone
        when the log fits the overlay budget and sorts after the base
        (the log is then served from the overlay and the base from its
        footer index), else base and log."""
        base = [os.path.join(self.base_dir, f) for f in layout[0]
                if f.endswith(".parquet")]
        log = self._log_paths(layout[1])
        files, folded, groups = base, (), None
        if (fold_all or sum(os.path.getsize(p) for p in log) > FOLD_BYTES
                or self._seq_range(log)[0] <= self._seq_range(base)[1]):
            files, folded = base + log, layout[1]
        else:
            groups = self._footer_index(base)
        hi = self._seq_range(files)[1]
        state = (_checkpoint(self._dedup(self._read_files(files))) if files
                 else self.spark.createDataFrame([], self.schema))
        return Snapshot((layout[0], folded), state, not files, hi,
                        overlay={}, groups=groups, seq=hi)

    def _live(self, row: dict | None) -> dict | None:
        return None if row is None or row[self.op_col] == "delete" else row

    def lookup(self, key: str) -> dict | None:
        """The live record of ``key``, or None when it is absent or
        deleted: from the overlay, else the memo, else a point read of
        the base or the state, which the memo then keeps."""
        snap = self.snapshot()
        row = snap.overlay.get(key, _MISS)
        if row is not _MISS:
            return self._live(row)
        row = snap.memo.get(key, _MISS)
        if row is _MISS:
            row = self._point_read(snap, key)
            with self._memo_lock:
                _remember(snap.memo, [(key, row)])
        return row

    def _point_read(self, snap: Snapshot, key: str) -> dict | None:
        """The live record of ``key`` in the snapshot's state, for a key
        the overlay does not hold.  With a footer index: the base row
        groups whose key range holds ``key``, read on the driver with no
        Spark job.  Otherwise, or when a compaction elsewhere removed the
        base files, one Spark point read on the (checkpointed) state."""
        if snap.groups is not None:
            try:
                rows = [row for lo, hi, path, meta, i in snap.groups
                        if lo is None or lo <= key <= hi
                        for row in self._read_group(path, meta, i, key)]
                return self._live(max(rows, key=lambda r: r[self.seq_col])
                                  if rows else None)
            except FileNotFoundError:
                pass
        rows = [] if snap.empty else (
            snap.state.filter(F.col(self.key_col) == key).collect())
        return ({k: bytes(v) if isinstance(v, bytearray) else v
                 for k, v in rows[0].asDict().items()} if rows else None)

    def replay_cached(self) -> DataFrame:
        """replay() served from the snapshot, for scans: the state itself
        when there is no tail, else dedup(state ∪ tail files) over the
        tail files the snapshot pinned, uncached.  One snapshot returns
        one DataFrame.  Semantically identical to replay()."""
        snap = self.snapshot()
        if snap.scan is None:
            scan = snap.state
            if snap.tail:
                scan = self._dedup(snap.state.unionByName(
                    self._read_files(self._log_paths(snap.tail))))
            snap.scan = scan
        return snap.scan

    # -- compaction (SAV) --------------------------------------------------

    def compact(self) -> None:
        """SAV parity (p3/server/my_storage.cc:505-565): fold the tail into
        the state, write the state to a tmp dir range-partitioned and
        sorted by key in row groups of ROW_GROUP_BYTES, atomically swap
        it in as base, truncate the log, announce the new layout.  A
        reader that lists between swap and truncate sees duplicates of
        *identical latest records*, which replay dedups -- same safety
        the reference gets from write-tmp-then-rename.  The folded state
        and its memo keep serving over the new base, whose footer index
        is built here.

        Truncation removes exactly the log files the snapshot covers: a
        batch appended while the snapshot is written (or still in
        flight as a .tmp file) stays in the log.  A reader that listed
        the log before the swap could still open a file removed here;
        KVEngine excludes that by running SAV alone (its SavGate)."""
        with self._build_lock:
            snap = self._refresh()
            snap = (self._fold(snap) if snap.state is not None
                    else self._rebuild(snap.layout, fold_all=True))
            tmp = os.path.join(self.root, f"base.tmp-{uuid.uuid4().hex[:8]}")
            # Distributed snapshot write: executors stream the state
            # straight to parquet part-files -- the driver never
            # materializes it (at 100 TB a .collect() would OOM the driver).
            # as many key ranges as the state has partitions: a single
            # one needs no sampling job, and no exchange is left for AQE
            # to coalesce
            key, parts = self.key_col, max(1, snap.state.rdd.getNumPartitions())
            (snap.state.repartitionByRange(parts, key).sortWithinPartitions(key)
             .write.option("parquet.block.size", ROW_GROUP_BYTES).parquet(tmp))
            old = self.base_dir
            swap_out = os.path.join(self.root, f"base.old-{uuid.uuid4().hex[:8]}")
            os.rename(old, swap_out)
            os.rename(tmp, old)
            shutil.rmtree(swap_out)
            for f in self._log_paths(snap.layout[1]):
                os.remove(f)
            self._announce()
            base = tuple(sorted(os.listdir(self.base_dir)))
            groups = self._footer_index([os.path.join(self.base_dir, f) for f in base
                                         if f.endswith(".parquet")])
            self._publish(Snapshot((base, ()), snap.state, snap.empty, snap.state_seq,
                                   overlay={}, groups=groups, seq=snap.seq,
                                   memo=snap.memo))


class ChangelogStreamSink:
    """Structured Streaming WRITE path into the ChangeLog layout -- the
    100 TB ingestion shape the batch ``ChangeLog.append`` (driver-side
    pyarrow, a per-request ~ms action) deliberately is not.

    A mutation stream (any readStream source carrying the log schema:
    seq, op, key, payload columns) lands in ``<root>/log/`` as the same
    one-parquet-file-per-batch layout the driver writes, so every
    reader -- ``replay()``, the snapshot's overlay and fold,
    compaction -- works unchanged on streamed appends, and the two
    write paths can interleave in one log.

    Mechanics: ``foreachBatch`` writes each micro-batch DISTRIBUTED to a
    tmp dir (executors stream part-files; the driver never materializes
    the batch), fsyncs, then renames the completed part-files into the
    log dir -- readers can never observe a half-written file.  The
    rename loop is driver-side metadata-only (O(files), not O(bytes)).
    Checkpointed: a restart re-processes only unread source batches.
    Exactly-once is not required: replay's latest-seq-per-key dedup
    makes a replayed duplicate record a no-op, the same idempotence the
    reference gets from replaying a record already in the map
    (p3/server/my_storage.cc:573-702 upserts on AUTHDIFF/KVUPDATE)."""

    def __init__(self, log: ChangeLog):
        self.log = log
        self.checkpoint_dir = os.path.join(log.root, "ingest-checkpoint")

    def _sink_batch(self, batch: DataFrame, batch_id: int) -> None:
        cols = [f.name for f in self.log.schema.fields]
        tmp = os.path.join(self.log.root, f"ingest.tmp-{uuid.uuid4().hex[:8]}")
        batch.select(*cols).write.mode("overwrite").parquet(tmp)
        renamed = False
        for i, name in enumerate(sorted(os.listdir(tmp))):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(tmp, name)
            # Spark's parquet writer does NOT fsync data files, so the
            # sink fsyncs each completed part file itself (a read-only
            # fd flushes that file's dirty pages on Linux) BEFORE the
            # rename publishes it -- the same contents-then-metadata
            # ordering ChangeLog.append uses.
            with open(src, "rb") as f:
                os.fsync(f.fileno())
            dst = os.path.join(
                self.log.log_dir,
                f"batch-stream-{batch_id:012d}-{i:04d}-{uuid.uuid4().hex[:8]}.parquet")
            os.rename(src, dst)
            renamed = True
        if renamed:
            self.log._announce()
            # make the renames themselves durable: without a directory
            # fsync a crash here can lose the new directory entries even
            # though the part-file bytes were fsync'd above.
            fsync_dir(self.log.log_dir)
        shutil.rmtree(tmp)

    def ingest_available(self, stream: DataFrame) -> None:
        """Drain everything currently available from the mutation stream
        into the log (Trigger.AvailableNow), blocking until done."""
        q = (stream.writeStream.foreachBatch(self._sink_batch)
             .option("checkpointLocation", self.checkpoint_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def start(self, stream: DataFrame):
        """Continuous ingestion; returns the StreamingQuery handle."""
        return (stream.writeStream.foreachBatch(self._sink_batch)
                .option("checkpointLocation", self.checkpoint_dir)
                .start())


def _checkpoint(df: DataFrame) -> DataFrame:
    # eager: the state is fully checkpointed before any other thread can
    # query it.  A lazy one is checkpointed when its first job ends; if
    # another thread's job is being planned over the same RDD at that
    # moment, Spark's checkpoint lock and the RDD's lock are taken in
    # opposite orders and the driver deadlocks (seen under concurrent KVI)
    return df.localCheckpoint(eager=True)


def _remember(memo: dict, rows) -> None:
    """Put ``(key, row)`` pairs in ``memo``, dropping the entry of a row
    over MEMO_ROW_BYTES, then the oldest entries past MEMO_KEYS."""
    for key, row in rows:
        if row is None or sum(len(v) for v in row.values()
                              if isinstance(v, (bytes, str))) <= MEMO_ROW_BYTES:
            memo[key] = row
        else:
            memo.pop(key, None)
    for key in list(itertools.islice(memo, max(0, len(memo) - MEMO_KEYS))):
        del memo[key]


def _arrow_type(simple: str) -> pa.DataType:
    return {
        "string": pa.string(),
        "binary": pa.binary(),
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }[simple]
