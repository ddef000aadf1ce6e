"""Append-only changelog with replay + compaction.

Spark-first re-expression of the reference's durability design
(p3/server/format.h, p3/server/my_storage.cc:505-702): every mutation is
an appended log record; state = replay view (latest seq per key wins,
tombstones drop the key); SAV = compaction (rewrite base from the
current snapshot, truncate the log).

Physical layout per table:
    <root>/base/   -- compacted snapshot parquet (written by compact())
    <root>/log/    -- one small parquet file per append batch

Appends are driver-side pyarrow writes (a log append is a server-side
action, ~ms, no Spark job); *reads* are Spark scans so replay and
queries distribute.  The 100 TB ingestion path is
streaming.changelog_cdc.ChangelogStreamSink: a Structured Streaming
sink writing this same layout distributed, interleavable with driver
appends.  The replay view is one shuffle on key (window dedup)
regardless of log file count and needs no ordering assumption across
files.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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
        # incremental replay-state cache (see replay_cached)
        import threading
        self._cache_lock = threading.Lock()
        self._state_cache: tuple | None = None
        self._cache_depth = 0

    @property
    def base_dir(self) -> str:
        return os.path.join(self.root, "base")

    @property
    def log_dir(self) -> str:
        return os.path.join(self.root, "log")

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
        pq.write_table(table, tmp)
        with open(tmp, "rb") as f:
            os.fsync(f.fileno())
        os.rename(tmp, path)
        fsync_dir(self.log_dir)

    # -- read path ---------------------------------------------------------

    @staticmethod
    def _list(d: str) -> list[str]:
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]

    def raw(self, log_files: list[str] | None = None) -> DataFrame:
        """base ∪ log, no dedup; ``log_files`` pins which log files are
        read (default: every one listed now)."""
        if log_files is None:
            log_files = self._list(self.log_dir)
        parts = [self._read_files(files)
                 for files in (self._list(self.base_dir), log_files) if files]
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

    def _layout_key(self) -> tuple[tuple[str, ...], tuple[str, ...]]:
        """Cheap (listdir-only, no Spark job) fingerprint of the
        on-disk layout: (base files, log files)."""
        base = tuple(sorted(os.listdir(self.base_dir)))
        log = tuple(sorted(f for f in os.listdir(self.log_dir)
                           if f.endswith(".parquet")))
        return base, log

    def replay_cached(self) -> DataFrame:
        """replay() with an incremental state cache.

        Point ops (GET/ALL/auth checks) previously re-ran the full
        windowed replay over base + every log file per call.  Here the
        replayed state is cached (localCheckpoint) keyed by the on-disk
        layout; pure appends extend it incrementally — the new state is
        dedup(cached state ∪ tail files only), so a point op after N
        writes scans the in-memory state plus the few new batch files
        instead of the whole log.  Every 8 increments (or on any
        non-append layout change, e.g. compaction) the state is rebuilt
        from files, bounding both lineage depth and cached-copy count.

        Reference analog: the in-memory Map the reference serves reads
        from, with the changelog only replayed at load (p3/server/
        my_storage.cc:573-702).  Semantically identical to replay():
        a tail tombstone outranks any cached row; cached rows carry
        their seq so latest-wins merges stay correct."""
        with self._cache_lock:
            key = self._layout_key()
            if self._state_cache is not None and self._state_cache[0] == key:
                return self._state_cache[1]
            incremental = (
                self._state_cache is not None
                and self._state_cache[0][0] == key[0]
                and set(self._state_cache[0][1]) <= set(key[1])
                and self._cache_depth < 8
            )
            if incremental:
                old = set(self._state_cache[0][1])
                tail = [os.path.join(self.log_dir, f)
                        for f in key[1] if f not in old]
                state = self._dedup(
                    self._state_cache[1].unionByName(self._read_files(tail))
                )
                self._cache_depth += 1
            else:
                state = self.replay()
                self._cache_depth = 0
            state = state.localCheckpoint(eager=False)
            self._state_cache = (key, state)
            return state

    def max_seq(self) -> int:
        row = self.raw().agg(F.max(self.seq_col).alias("m")).collect()[0]
        return int(row["m"]) if row["m"] is not None else 0

    # -- compaction (SAV) --------------------------------------------------

    def compact(self) -> None:
        """SAV parity (p3/server/my_storage.cc:505-565): write the full
        snapshot to a tmp dir, atomically swap it in as base, truncate
        the log.  Readers between swap and truncate see duplicates of
        *identical latest records*, which replay dedups -- same safety
        the reference gets from write-tmp-then-rename.

        Truncation removes exactly the log files the snapshot read: a
        batch appended while the snapshot is written (or still in
        flight as a .tmp file) stays in the log.  Not covered: a reader
        that listed the log before the swap may still open a file
        removed here; that needs exclusion above this class."""
        tmp = os.path.join(self.root, f"base.tmp-{uuid.uuid4().hex[:8]}")
        log_files = self._list(self.log_dir)
        # Distributed snapshot write: executors stream the replay view
        # straight to parquet part-files -- the driver never materializes
        # the snapshot (at 100 TB a .collect() here would OOM the driver).
        self._dedup(self.raw(log_files)).write.parquet(tmp)
        old = self.base_dir
        swap_out = os.path.join(self.root, f"base.old-{uuid.uuid4().hex[:8]}")
        os.rename(old, swap_out)
        os.rename(tmp, old)
        shutil.rmtree(swap_out)
        for f in log_files:
            os.remove(f)


def _arrow_type(simple: str) -> pa.DataType:
    return {
        "string": pa.string(),
        "binary": pa.binary(),
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }[simple]
