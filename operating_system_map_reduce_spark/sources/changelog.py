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
``ChangeLog`` keeps one ``Snapshot`` per on-disk layout, replaced whole.
A snapshot holds no Spark state: only the files it pinned and
driver-side indexes over them.

 - base: the files ``compact`` wrote, range-partitioned and sorted by
   key in row groups of ROW_GROUP_BYTES;
 - spill: log files indexed by their footers and never read whole onto
   the driver.  Empty unless the log since the base outgrew the
   overlay's byte budget, or a new file held a record that does not
   sort after the base and spill.  The stream sink writes its part
   files with the same sorted layout as the base;
 - groups: the footer index of base ∪ spill, ``(min key, max key, file,
   footer, row group)`` for each row group, built when a file joins;
 - overlay: driver-side ``key -> latest record`` of the other log
   files, read with pyarrow.  Every overlay record sorts after every
   base and spill record: a new file that would break this joins the
   spill, with the overlay's files.  The snapshot follows the on-disk
   layout, listed again whenever the generation moved, so appends by
   another engine or by the stream sink show up too;
 - memo: a bounded ``key -> row | None`` of point reads, exact for base
   ∪ spill, so appends keep it.

``lookup`` answers from the overlay, then the memo, then the row groups
of base ∪ spill whose key range holds the key (on a base ``compact``
wrote, one base group and at most one per spilled sorted file), read
with pyarrow: the highest seq wins.  No point read starts a Spark job.
Scans (``replay_cached``) read the base alone when there is no log,
else ``dedup(base ∪ spill ∪ overlay)``, and SAV (``compact``) writes
that scan as the new base.  Nothing is checkpointed.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
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
from pyspark.sql.window import Window

# the log the overlay holds; past it, the log is spilled until SAV
OVERLAY_BYTES = 8 << 20
# parquet row-group target of the base and the sink's part files: a
# point read decodes one group of each
ROW_GROUP_BYTES = 256 << 10
# point reads remembered per base and spill; a larger row is read again
# each time, so the memo stays within MEMO_KEYS * MEMO_ROW_BYTES
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
    """One consistent view of a log as of ``layout``: its base, spill
    and overlay (see the module docstring).  Published whole and never
    changed, except that ``memo`` fills with point reads (shared by
    every snapshot over the same base and spill) and ``scan`` is built
    on first use."""

    layout: tuple                 # (base files, log files) covered
    groups: tuple = ()            # base ∪ spill footer index: (lo, hi, file, footer, group)
    spill: tuple = ()             # log files served from their footer index
    overlay: dict = field(default_factory=dict)  # key -> latest record of the rest
    overlay_bytes: int = 0        # size of the log files the overlay holds
    floor: int = 0                # highest seq in base and spill
    seq: int = 0                  # highest seq covered
    memo: dict = field(default_factory=dict)
    scan: DataFrame | None = None

    @property
    def settled(self) -> tuple:
        """What the memo is exact for: the base and the spill."""
        return self.layout[0], self.spill


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
        self._build_lock = threading.Lock()  # one compaction at a time
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
        table = pa.Table.from_pylist(rows, schema=self._arrow_schema)
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

    def _log_paths(self, names) -> list[str]:
        return [os.path.join(self.log_dir, f) for f in names]

    def _base_paths(self, names) -> list[str]:
        return [os.path.join(self.base_dir, f) for f in names if f.endswith(".parquet")]

    def _union(self, parts: list[DataFrame]) -> DataFrame:
        if not parts:
            return self.spark.createDataFrame([], self.schema)
        return functools.reduce(DataFrame.unionByName, parts)

    def raw(self) -> DataFrame:
        """base ∪ log, no dedup."""
        base, log = self.layout_key()
        return self._union([self._read_files(files) for files in
                            (self._base_paths(base), self._log_paths(log)) if files])

    def _dedup(self, df: DataFrame) -> DataFrame:
        """latest seq per key wins; delete-ops drop the key."""
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
                if meta.row_group(i).num_rows:
                    s = meta.row_group(i).column(col).statistics
                    lo, hi = (s.min, s.max) if s is not None and s.has_min_max else (None, None)
                    groups.append((lo, hi, p, meta, i))
        return tuple(groups)

    def _read_group(self, path: str, meta, i: int, key: str) -> list[dict]:
        """The records of ``key`` in row group ``i`` of parquet file ``path``."""
        with pq.ParquetFile(path, metadata=meta) as f:
            group = f.read_row_group(i, use_threads=False)
        return group.filter(pc.equal(group[self.key_col], key)).to_pylist()

    def layout_key(self) -> tuple[tuple[str, ...], tuple[str, ...]]:
        """Cheap (listdir-only, no Spark job) fingerprint of the
        on-disk layout: (base files, log files)."""
        return (tuple(sorted(os.listdir(self.base_dir))),
                tuple(sorted(f for f in os.listdir(self.log_dir) if f.endswith(".parquet"))))

    def max_seq(self) -> int:
        """Highest seq on disk, from parquet footer statistics."""
        base, log = self.layout_key()
        return self._seq_range(self._base_paths(base) + self._log_paths(log))[1]

    def seen_seq(self) -> int:
        """Highest seq of any record the current snapshot covers."""
        return self._seen[1].seq if self._seen[1] else 0

    # -- snapshot ----------------------------------------------------------

    def snapshot(self) -> Snapshot:
        """The snapshot of the current on-disk layout.  The directories
        are listed again only when the generation moved since the listing
        the published snapshot was built for: a writer announces a change
        once it is on disk."""
        gen, snap = self._seen
        if snap is not None and gen == self._generation():
            return snap
        return self._publish(reuse=True)

    def _publish(self, snap: Snapshot | None = None, reuse: bool = False) -> Snapshot:
        """``snap`` (default: the published snapshot) brought to the
        on-disk layout and published.  The generation is read before the
        listing; a file that a compaction elsewhere removed meanwhile
        makes it list again.  With ``reuse``, a snapshot that another
        reader published for the current generation while this one
        waited for the lock is returned as it is: one listing per layout
        change, not one per reader.  A reader that met a removed file
        lists whatever the generation says, because a compaction removes
        files before it announces."""
        with self._lock:
            gen, seen = self._seen
            if reuse and seen is not None and gen == self._generation():
                return seen
            while True:
                gen = self._generation()
                try:
                    new = self._advance(self._seen[1] if snap is None else snap,
                                        self.layout_key())
                except FileNotFoundError:
                    continue
                self._seen = (gen, new)
                return new

    def _base_snapshot(self, base: tuple, memo: dict | None = None) -> Snapshot:
        """A snapshot of base files ``base`` and no log."""
        paths = self._base_paths(base)
        hi = self._seq_range(paths)[1]
        return Snapshot((base, ()), self._footer_index(paths), floor=hi, seq=hi,
                        memo={} if memo is None else memo)

    def _advance(self, snap: Snapshot | None, layout) -> Snapshot:
        """``snap`` brought to ``layout`` without a Spark job; a new base
        or a removed log file starts again from the base.  The log files
        appended since are read into the overlay while it stays within
        the byte budget (sized before anything is read) and their records
        sort after the base and spill.  Otherwise the overlay's files and
        the new ones join the spill and its footer index, and the memo
        starts empty."""
        if snap is not None and snap.layout == layout:
            return snap
        if (snap is None or snap.layout[0] != layout[0]
                or not set(snap.layout[1]) <= set(layout[1])):
            snap = self._base_snapshot(layout[0])
        paths = self._log_paths(sorted(set(layout[1]) - set(snap.layout[1])))
        lo, hi = self._seq_range(paths)
        seq = max(snap.seq, hi)
        size = snap.overlay_bytes + sum(os.path.getsize(p) for p in paths)
        if lo <= snap.floor or size > OVERLAY_BYTES:
            joined = self._log_paths(sorted(set(layout[1]) - set(snap.spill)))
            return Snapshot(layout, snap.groups + self._footer_index(joined),
                            spill=layout[1], floor=seq, seq=seq)
        overlay = self._latest(dict(snap.overlay), self._read_tail(paths))
        return Snapshot(layout, snap.groups, snap.spill, overlay, size,
                        snap.floor, seq, snap.memo)

    def _latest(self, latest: dict, rows) -> dict:
        """``latest`` (key -> record) updated with ``rows``: the highest
        seq per key wins."""
        for row in rows:
            cur = latest.get(row[self.key_col])
            if cur is None or row[self.seq_col] > cur[self.seq_col]:
                latest[row[self.key_col]] = row
        return latest

    def _settled_paths(self, snap: Snapshot) -> list[str]:
        """The files of the snapshot's base and spill."""
        return self._base_paths(snap.layout[0]) + self._log_paths(snap.spill)

    def settled_rows(self, columns: list[str]) -> tuple[Snapshot, list[dict]]:
        """The current snapshot and ``columns`` of the live rows of its
        base ∪ spill, read with pyarrow: the latest record per key."""
        read = list(dict.fromkeys([*columns, self.key_col, self.seq_col, self.op_col]))
        while True:
            snap = self.snapshot()
            try:
                rows = self._latest({}, (row for p in self._settled_paths(snap) for row in
                                         pq.read_table(p, columns=read).to_pylist()))
            except FileNotFoundError:
                self._publish()
                continue
            return snap, [{c: row[c] for c in columns}
                          for row in rows.values() if self._live(row)]

    def _live(self, row: dict | None) -> dict | None:
        return None if row is None or row[self.op_col] == "delete" else row

    def lookup(self, key: str) -> dict | None:
        """The live record of ``key``, or None when it is absent or
        deleted: from the overlay, else the memo, else a point read of
        base ∪ spill, which the memo then keeps.  A file removed by a
        compaction elsewhere makes it list the directories again."""
        while True:
            snap = self.snapshot()
            row = snap.overlay.get(key, _MISS)
            if row is not _MISS:
                return self._live(row)
            row = snap.memo.get(key, _MISS)
            if row is not _MISS:
                return row
            try:
                row = self._point_read(snap, key)
            except FileNotFoundError:
                self._publish()
                continue
            with self._memo_lock:
                _remember(snap.memo, [(key, row)])
            return row

    def _point_read(self, snap: Snapshot, key: str) -> dict | None:
        """The live record of ``key`` in base ∪ spill: the latest of the
        row groups whose key range holds ``key``, read on the driver."""
        rows = [row for lo, hi, path, meta, i in snap.groups
                if lo is None or lo <= key <= hi
                for row in self._read_group(path, meta, i, key)]
        return self._live(max(rows, key=lambda r: r[self.seq_col]) if rows else None)

    def replay_cached(self) -> DataFrame:
        """replay() served from the snapshot, for scans: the base alone
        when there is no log (``compact`` writes one live row per key),
        else dedup(base ∪ spill ∪ overlay), the overlay's records shipped
        from the driver as Arrow.  One snapshot returns one DataFrame.
        Semantically identical to replay()."""
        snap = self.snapshot()
        if snap.scan is None:
            snap.scan = self._scan(snap)
        return snap.scan

    def _scan(self, snap: Snapshot) -> DataFrame:
        files = self._settled_paths(snap)
        parts = [self._read_files(files)] if files else []
        if snap.overlay:
            parts.append(self.spark.createDataFrame(pa.Table.from_pylist(
                list(snap.overlay.values()), schema=self._arrow_schema)))
        df = self._union(parts)
        return self._dedup(df) if snap.layout[1] else df

    # -- compaction (SAV) --------------------------------------------------

    def _write_sorted(self, df: DataFrame, path: str) -> None:
        """``df`` written to ``path``, each part file sorted by key in row
        groups of ROW_GROUP_BYTES: the layout the footer index prunes."""
        (df.sortWithinPartitions(self.key_col)
         .write.option("parquet.block.size", ROW_GROUP_BYTES).parquet(path))

    def compact(self) -> None:
        """SAV parity (p3/server/my_storage.cc:505-565): write the
        snapshot's scan to a tmp dir range-partitioned and sorted by key
        in row groups of ROW_GROUP_BYTES, atomically swap it in as base,
        truncate the log, announce the new layout.  A reader that lists
        between swap and truncate sees duplicates of *identical latest
        records*, which replay dedups -- same safety the reference gets
        from write-tmp-then-rename.  The memo carries over to the new
        base, updated with the overlay's live records, which it holds.

        Truncation removes exactly the log files the snapshot covers: a
        batch appended while the snapshot is written (or still in
        flight as a .tmp file) stays in the log.  A reader that listed
        the log before the swap could still open a file removed here;
        KVEngine excludes that by running SAV alone (its SavGate)."""
        with self._build_lock:
            snap = self.snapshot()
            tmp = os.path.join(self.root, f"base.tmp-{uuid.uuid4().hex[:8]}")
            # Distributed snapshot write: executors stream the scan
            # straight to parquet part-files -- the driver never
            # materializes it (at 100 TB a .collect() would OOM the driver).
            # One key range per advisory partition size of the bytes
            # read: a single one needs no sampling job.
            size = snap.overlay_bytes + sum(map(os.path.getsize, self._settled_paths(snap)))
            advisory = _byte_size(self.spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
            self._write_sorted(self._scan(snap).repartitionByRange(
                max(1, -(-size // advisory)), self.key_col), tmp)
            swap_out = os.path.join(self.root, f"base.old-{uuid.uuid4().hex[:8]}")
            os.rename(self.base_dir, swap_out)
            os.rename(tmp, self.base_dir)
            shutil.rmtree(swap_out)
            for f in self._log_paths(snap.layout[1]):
                os.remove(f)
            self._announce()
            with self._memo_lock:
                memo = dict(snap.memo)
            _remember(memo, ((k, self._live(r)) for k, r in snap.overlay.items()))
            self._publish(self._base_snapshot(tuple(sorted(os.listdir(self.base_dir))), memo))


class ChangelogStreamSink:
    """Structured Streaming WRITE path into the ChangeLog layout -- the
    100 TB ingestion shape the batch ``ChangeLog.append`` (driver-side
    pyarrow, a per-request ~ms action) deliberately is not.

    A mutation stream (any readStream source carrying the log schema:
    seq, op, key, payload columns) lands in ``<root>/log/`` as the same
    one-parquet-file-per-batch layout the driver writes, so every
    reader -- ``replay()``, the snapshot's overlay and spill,
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
        self.log._write_sorted(batch.select(*cols), tmp)
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

    def _writer(self, stream: DataFrame):
        return (stream.writeStream.foreachBatch(self._sink_batch)
                .option("checkpointLocation", self.checkpoint_dir))

    def ingest_available(self, stream: DataFrame) -> None:
        """Drain everything currently available from the mutation stream
        into the log (Trigger.AvailableNow), blocking until done."""
        self._writer(stream).trigger(availableNow=True).start().awaitTermination()

    def start(self, stream: DataFrame):
        """Continuous ingestion; returns the StreamingQuery handle."""
        return self._writer(stream).start()


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


def _byte_size(text: str) -> int:
    """A Spark byte-size setting ("67108864b", "64m", "1g") in bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)i?b?", text.strip().lower())
    return int(m[1]) << 10 * "bkmgtp".index(m[2] or "b")


def _arrow_type(simple: str) -> pa.DataType:
    return {
        "string": pa.string(),
        "binary": pa.binary(),
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }[simple]
