"""Streaming corpus-novelty filter: the continuous-crawl loop CLOSED.

``corpus_novelty_filter`` (plans/pipeline.py) probes ONE arriving batch
against a standing index.  This face runs the loop the crawler actually
runs: document waves ARRIVE as a stream (file source, one wave per
micro-batch), each wave probes the standing index -- corpus LSH bands +
exact hashes -- and fully-novel documents are ADMITTED: their bands and
hashes append to the index BEFORE the next wave probes it.  The
admission log is the result, and wave k's verdicts depend on every
admission in waves < k -- the cascade is the semantics, not an
artifact, and it is what a one-shot batch probe cannot express.

Scale shape: the standing index is a parquet table of slim (band_idx,
band_hash) and hash rows (at 100 TB: the index TABLE the crawl
maintains, e.g. Delta/Iceberg); every wave is one banded equi-join +
one hash semi-join against it -- never doc x doc.  foreachBatch appends
only the ADMITTED docs' band/hash rows (distributed writes, no driver
materialization of documents).  Waves are strictly sequential in
Structured Streaming, so index reads always see every prior admission.

Determinism: wave id = (doc_id div 10) % WAVES, one parquet file per
wave with ascending mtimes so the file source replays waves in order
(FileStreamSource picks oldest-first).  The DuckDB oracle unrolls the
same cascade (the pagerank unrolled-CTE precedent), so admission
verdicts are hash-checked end-to-end through the driver gate.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from operating_system_map_reduce_spark.operators import dedup as _dd
from operating_system_map_reduce_spark.sources.tables import derived, load_table
from operating_system_map_reduce_spark.streaming import scratch_root

NOVELTY_WAVES = 3

_DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("wave", LongType()),
])


def _as_index_rows(bands: DataFrame | None = None,
                   hashes: DataFrame | None = None) -> DataFrame:
    """Band and exact-hash rows share ONE index table partitioned by
    ``kind`` (kind=band / kind=hash directories): the standing index is
    a single table at 100 TB, and merging the two appends means ONE
    write job -- one table commit -- per wave instead of two.  Reads
    filter on the partition column, so each probe still scans only its
    kind's files."""
    if bands is None and hashes is None:
        raise ValueError("_as_index_rows needs bands and/or hashes")
    parts = []
    if bands is not None:
        parts.append(bands.select(
            F.lit("band").alias("kind"), "band_idx", "band_hash",
            F.lit(None).cast("string").alias("h")))
    if hashes is not None:
        parts.append(hashes.select(
            F.lit("hash").alias("kind"),
            F.lit(None).cast("int").alias("band_idx"),
            F.lit(None).cast("string").alias("band_hash"), "h"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _seed_index(spark: SparkSession, sf_dir: str, corpus: DataFrame) -> str:
    """The corpus seed index: the STANDING index a production crawler
    builds once per corpus snapshot and serves every arriving wave
    from.  Memoized (tables.derived), so repeat invocations pay
    wave-probe cost, not index-build cost; a new key removes the old
    seed root.  Each run copies the seed files into its private workdir
    because the run mutates its index with admissions."""
    return derived(spark, sf_dir, "documents.parquet", "novelty seed",
                   lambda: _build_seed_index(spark, sf_dir, corpus),
                   release=lambda index_dir: shutil.rmtree(
                       os.path.dirname(index_dir), ignore_errors=True))


def _build_seed_index(spark: SparkSession, sf_dir: str,
                      corpus: DataFrame) -> str:
    seed_root = tempfile.mkdtemp(prefix="seed-", dir=scratch_root())
    index_dir = os.path.join(seed_root, "index")
    # Seed bands derive from the at-rest bucketed signature table:
    # b_sig is per-doc,
    # so filtering it to the corpus commutes with the signature and
    # yields IDENTICAL seed rows (pinned in tests/test_streaming.py)
    # -- while the per-session Python minhash recompute this replaces
    # ran the corpus-sized Arrow stage once per fresh session as pure
    # warmup cost.  The streaming QUERY plan is untouched: the seed is
    # an input artifact staged before the stream starts.
    from operating_system_map_reduce_spark.plans.pipeline import (
        bucketed_signature)

    corpus_sig = bucketed_signature(spark, sf_dir).join(
        corpus.select("doc_id"), "doc_id", "left_semi")
    seed_bands = (_dd.lsh_bands(corpus_sig)
                  .select("band_idx", "band_hash").distinct())
    seed_hashes = corpus.select(F.md5("text").alias("h")).distinct()
    (_as_index_rows(seed_bands, seed_hashes)
     .write.partitionBy("kind").parquet(index_dir))
    return index_dir


def _wave_col():
    # batch doc_ids are 10k+7; (doc_id div 10) % WAVES walks k mod WAVES
    return F.expr(f"(doc_id div 10) % {NOVELTY_WAVES}")


def _batch_files(ckpt_dir: str, batch_id: int) -> list[str]:
    """The files a file-source micro-batch reads, from the source log
    the stream commits to its checkpoint before the batch runs (a
    driver-side read; ``DataFrame.inputFiles()`` lists nothing for a
    foreachBatch frame).  The log is one JSON entry per file after a
    version line; every 10th batch file is a ``.compact`` that holds
    all earlier entries too, so entries are picked by ``batchId``."""
    d = os.path.join(ckpt_dir, "sources", "0")
    name = str(batch_id)
    if not os.path.exists(os.path.join(d, name)):
        name += ".compact"
    with open(os.path.join(d, name)) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:]]
    return [unquote(urlparse(e["path"]).path) for e in entries
            if e["batchId"] == batch_id]


def _staged_waves(spark: SparkSession, sf_dir: str, docs: DataFrame,
                  is_batch) -> tuple:
    """Stage the arriving stream's wave files (one parquet per
    non-empty wave, mtimes ascending = arrival order), memoized
    (tables.derived).  Staging is fixture manufacturing of the
    synthetic stream source (a production crawler's waves arrive as
    directories), like windows._stream_dir's symlinks for the events
    stream.  The staged files are INPUT, a pure re-partitioning of
    documents.parquet that no run mutates, so sharing them caches no
    verdict or admission.  A new key does not delete the old files: a
    stream may still be replaying them; they go with scratch_root() at
    exit.

    ONE Spark write job:
    repartition(WAVES, "__wp") puts every wave's rows in exactly one
    task -- hash collisions only mean one task owns two waves -- so
    partitionBy("__wp") lands exactly one file per non-empty wave
    directory; __wp duplicates wave because partitionBy drops its key
    from the data files and the stream schema needs the wave column.
    Empty waves produce no directory and are skipped (the file
    source's one-file-per-trigger contract then replays exactly the
    non-empty waves).  No wave content ever transits driver memory.

    Returns (src_dir, wave_order): wave_order[k] is the wave id of
    micro-batch k -- the replay is oldest-mtime-first, so batch order
    IS ascending wave order over the non-empty waves.  probe_wave
    reads its wave id from this list instead of collecting a row per
    batch (one fewer driver round-trip per wave)."""
    return derived(spark, sf_dir, "documents.parquet", "novelty waves",
                   lambda: _stage_waves(docs, is_batch))


def _stage_waves(docs: DataFrame, is_batch) -> tuple:
    root = tempfile.mkdtemp(prefix="waves-", dir=scratch_root())
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir)
    stage = os.path.join(root, "stage")
    (docs.filter(is_batch).withColumn("wave", _wave_col())
     .withColumn("__wp", F.col("wave"))
     .repartition(NOVELTY_WAVES, "__wp")
     .write.partitionBy("__wp").parquet(stage))
    wave_order = []
    for w in range(NOVELTY_WAVES):
        wdir = os.path.join(stage, f"__wp={w}")
        if not os.path.isdir(wdir):
            continue  # no docs in this wave at this SF
        parts = [f for f in os.listdir(wdir) if f.endswith(".parquet")]
        assert len(parts) == 1, parts  # one-task-per-wave contract
        dst = os.path.join(src_dir, f"wave-{w}.parquet")
        shutil.move(os.path.join(wdir, parts[0]), dst)
        os.utime(dst, (1_000_000 + w, 1_000_000 + w))
        wave_order.append(w)
    shutil.rmtree(stage)
    return src_dir, tuple(wave_order)


def compact_novelty_index(spark: SparkSession, index_dir: str,
                          files_per_kind: int = 4) -> dict:
    """Compact the standing novelty index table in place.

    A long-running crawl appends ONE commit per wave
    (run_novelty_stream's probe_wave), which accrues one small parquet
    file per wave per kind -- the classic small-files problem: at
    crawl timescales the per-wave file count, not the row count, comes
    to dominate probe planning and open() cost.  This is the index
    table's SAV (reference compaction semantics,
    p3/server/my_storage.cc:505-565, same shape as
    sources/changelog.py ChangeLog.compact): executors stream the
    DISTINCT snapshot to a tmp table -- the driver never materializes
    a row -- then the tmp dir atomically swaps in.  distinct() makes
    the rewrite idempotent under at-least-once re-appends; today's
    appends are already distinct (an admitted doc never re-adds a band
    the index holds), so the row SET -- and therefore every future
    admission verdict, which is a pure join against that set -- is
    unchanged (pinned by test_compaction_is_admission_equivalent).

    ``files_per_kind`` bounds the output layout: rows are salted into
    that many buckets per kind before the partitionBy write, so each
    kind directory lands at most files_per_kind files (typically
    exactly).  At 100 TB this is the table-maintenance OPTIMIZE job --
    files_per_kind scales with partition bytes, and a real table
    format would run it per-partition without blocking appends; here
    waves are strictly sequential, so between-wave compaction needs no
    commit coordination.

    Returns {"files_before", "files_after", "rows"}."""
    def _count_parts(d: str) -> int:
        return sum(1 for _, _, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    files_before = _count_parts(index_dir)
    snap = spark.read.parquet(index_dir)
    salt = (F.abs(F.hash(F.coalesce(F.col("band_hash"), F.col("h"))))
            % files_per_kind)
    compacted = (snap.select("band_idx", "band_hash", "h", "kind")
                 .distinct()
                 .withColumn("__bucket", salt)
                 .repartition(2 * files_per_kind, "kind", "__bucket")
                 .drop("__bucket"))
    root = os.path.dirname(os.path.abspath(index_dir))
    tmp = os.path.join(root, f"index.tmp-{uuid.uuid4().hex[:8]}")
    compacted.write.partitionBy("kind").parquet(tmp)
    n_rows = spark.read.parquet(tmp).count()
    swap_out = os.path.join(root, f"index.old-{uuid.uuid4().hex[:8]}")
    os.rename(index_dir, swap_out)
    os.rename(tmp, index_dir)
    shutil.rmtree(swap_out)
    return {"files_before": files_before,
            "files_after": _count_parts(index_dir),
            "rows": n_rows}


def run_novelty_stream(spark: SparkSession, sf_dir: str,
                       out_dir: str | None = None,
                       index_out_dir: str | None = None) -> DataFrame:
    """Returns a LAZY frame over the written admission log.

    The log lands under ``out_dir`` (caller-owned; when omitted, a
    unique subdir of ONE process-lived temp root that is removed at
    interpreter exit -- earlier results stay readable for the life of
    the process), partitioned by ``wave`` so both the
    per-wave index-append re-read and any downstream wave filter prune
    files instead of scanning the whole log.  Only scratch state (the
    private index copy, the checkpoint) lives in the run's workdir and
    is deleted on exit; the staged wave source files are session-cached
    read-only fixture input (_staged_waves).  The result outlives the
    call, so nothing is collected through the driver (at 100 TB an
    arriving wave-set is not driver-sized)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % 10 == 7
    corpus = docs.filter(~is_batch)

    work = tempfile.mkdtemp(prefix="stream-", dir=scratch_root())
    # index_out_dir (caller-owned, must not yet exist) keeps the
    # post-cascade standing index alive after the run -- the handle
    # compact_novelty_index operates on; by default the index is
    # run-scratch and dies with the workdir
    index_dir = index_out_dir or os.path.join(work, "index")
    # the admission log is the RESULT: it must outlive the workdir.
    # Each run gets its own log-<uuid> (earlier results stay readable
    # for the life of the process); out_dir outlives the process.
    log_root = out_dir or scratch_root()
    log_dir = os.path.join(log_root, f"log-{uuid.uuid4().hex[:12]}")
    ckpt_dir = os.path.join(work, "checkpoint")

    # Arriving-wave BANDS, derived once per run from the at-rest
    # bucketed signature table (the seed-index re-plan extended to the
    # waves): b_sig is per-doc -- a signature carries no
    # cross-doc state -- so filtering it to the batch docs commutes
    # with the signature and yields rows IDENTICAL to the per-wave
    # Python minhash recompute this replaces (pinned in
    # tests/test_streaming.py::test_batch_bands_match_direct_signature,
    # the twin of the seed pin).  The production reading: a crawler
    # computes each arriving doc's signature once at ingest and the
    # probe reads the signature STORE; what stayed order-sensitive --
    # the admission cascade -- still runs strictly per-wave below.
    # One cached frame replaces NOVELTY_WAVES mapInPandas stages (each
    # with its own cores-wide repartition exchange) per run.
    all_bands = None
    try:
        # seed the standing index with the corpus (bands + exact
        # hashes, one kind-partitioned table) -- memoized; this
        # run gets a private mutable copy because admissions append
        shutil.copytree(_seed_index(spark, sf_dir, corpus), index_dir)

        # the staged wave files -- memoized fixture input, one
        # write job on first use (see _staged_waves)
        src_dir, wave_order = _staged_waves(spark, sf_dir, docs, is_batch)

        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_signature)

        batch_sig = bucketed_signature(spark, sf_dir).join(
            docs.filter(is_batch).select("doc_id"), "doc_id", "left_semi")
        all_bands = (_dd.lsh_bands(batch_sig).withColumn("wave", _wave_col())
                     .select("doc_id", "wave", "band_idx", "band_hash")
                     .persist())

        def probe_wave(batch: DataFrame, batch_id: int) -> None:
            s = batch.sparkSession
            # batch k holds exactly wave_order[k]: one file per
            # trigger, replayed oldest-mtime-first == ascending wave.
            # Checked, because probing a batch against another wave's
            # bands would admit duplicates silently
            wave_val = wave_order[batch_id] if batch_id < len(wave_order) else None
            files = _batch_files(ckpt_dir, batch_id)
            if files != [os.path.join(src_dir, f"wave-{wave_val}.parquet")]:
                raise RuntimeError(f"micro-batch {batch_id} read {files}, "
                                   f"expected wave {wave_val} of {wave_order}")
            bands = (all_bands.filter(F.col("wave") == wave_val)
                     .select("doc_id", "band_idx", "band_hash"))
            hashes = batch.select(
                "doc_id", "wave", F.md5("text").alias("h")).persist()
            # kind is the partition column: each filter prunes to its
            # kind's files, so the two probes scan disjoint file sets
            idx = s.read.parquet(index_dir)
            idx_b = (idx.filter(F.col("kind") == "band")
                     .select("band_idx", "band_hash"))
            idx_h = idx.filter(F.col("kind") == "hash").select("h")
            band_hits = (bands.join(idx_b, ["band_idx", "band_hash"])
                         .groupBy("doc_id")
                         .agg(F.count(F.lit(1)).cast("long")
                              .alias("n_band_hits")))
            exact_hits = (hashes.join(idx_h, "h")
                          .select("doc_id",
                                  F.lit(1).cast("long").alias("exact_dup")))
            log = (
                hashes.select("doc_id", "wave")
                .join(band_hits, "doc_id", "left")
                .join(exact_hits, "doc_id", "left")
                .select(
                    "doc_id", "wave",
                    F.coalesce("n_band_hits", F.lit(0)).cast("long")
                    .alias("n_band_hits"),
                    F.coalesce("exact_dup", F.lit(0)).cast("long")
                    .alias("exact_dup"),
                )
                .withColumn(
                    "admitted",
                    ((F.col("n_band_hits") == 0) & (F.col("exact_dup") == 0))
                    .cast("long"))
            )
            # partitioned by wave: the index-append re-read below and
            # any downstream wave filter prune to one wave's files
            log.write.mode("append").partitionBy("wave").parquet(log_dir)
            # drive the index appends from the WRITTEN log, not the
            # in-memory frame: `log` derives from `hashes`/`bands`, and
            # joining a frame back against its own ancestor is the
            # ambiguous-self-join trap (observed: the hashes-side join
            # silently resolved to empty).  The disk read has fresh
            # lineage -- and re-reading the admission-log table you just
            # committed is exactly what the production crawler does.
            adm_ids = (s.read.parquet(log_dir)
                       .filter((F.col("wave") == wave_val)
                               & (F.col("admitted") == 1))
                       .select("doc_id"))
            adm_bands = (bands.join(adm_ids, "doc_id")
                         .select("band_idx", "band_hash").distinct())
            adm_hashes = hashes.join(adm_ids, "doc_id").select("h").distinct()
            # ONE append job -- one index-table commit per wave
            (_as_index_rows(adm_bands, adm_hashes)
             .write.mode("append").partitionBy("kind").parquet(index_dir))
            hashes.unpersist()

        from operating_system_map_reduce_spark.streaming.windows import (
            _bounded_replay,
        )

        stream = (spark.readStream.schema(_DOC_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src_dir))
        with _bounded_replay(spark):
            q = (stream.writeStream.foreachBatch(probe_wave)
                 .option("checkpointLocation", ckpt_dir)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        # lazy result over the persisted log -- no driver round-trip;
        # wave comes back as a partition column, so pin its type
        return (spark.read.parquet(log_dir)
                .select("doc_id", F.col("wave").cast("long").alias("wave"),
                        "n_band_hits", "exact_dup", "admitted")
                .orderBy("doc_id"))
    finally:
        if all_bands is not None:
            all_bands.unpersist()
        shutil.rmtree(work, ignore_errors=True)
