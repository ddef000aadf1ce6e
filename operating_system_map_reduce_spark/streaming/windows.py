"""Watermarked tumbling-window aggregation over the events stream.

``events.parquet`` is replayed through a real file-source readStream
(Trigger.AvailableNow), aggregated with ``window()`` + watermark, and
landed in a memory sink.  At scale the same plan runs unchanged against
a directory of arriving parquet files or a Kafka source: the shuffle is
on (window, event_type) -- constant-cardinality per trigger -- and
state is bounded by the watermark (late rows beyond 30 min are
dropped).  Complete output mode here because the bounded replay ends
before the watermark would pass the final window; a live deployment
would run update mode with the identical plan.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.streaming import scratch_root

WINDOW = "1 hour"
WATERMARK = "30 minutes"

# State-store partition count for the bounded replays.  Each stateful
# operator materializes one state store per shuffle partition, and at
# replay scale (one micro-batch) the per-store setup dominates: 32
# stores cost ~2x the wall time of 8, and 8 cost ~1.3x of 4 (measured:
# windowed+dedup+session replay 5.1 s @ 8 -> 4.0 s @ 4; 2 loses
# parallelism on the session window and regresses).  A live 100 TB
# deployment sizes this up (state must spread across executors); the
# checkpoint pins it per query after first run.
STREAM_STATE_PARTITIONS = 4


@contextlib.contextmanager
def _bounded_replay(spark: SparkSession):
    """Scope the session conf of a bounded replay, restoring each key
    after (unset stays unset; the driver runs queries sequentially):

    - ``spark.sql.shuffle.partitions`` down to STREAM_STATE_PARTITIONS;
    - the checkpoint file manager to Hadoop's FileSystem one.  The
      default FileContext manager renames each checkpoint file (offset,
      commit, state-store delta) through ``FileContext.rename``, and
      without libhadoop the local file system answers its link check
      by starting a ``readlink`` process: 112 of the 153 processes a
      stateful face's replay started (sf0.01), and most of its
      state-commit time.  ``FileSystem.rename`` on a local path is one
      rename(2), still atomic, and the state store still wraps the
      manager in the one that writes and verifies checksums.  It only
      checks that the target is absent before renaming, where
      FileContext's rename refuses an existing target, so it is set
      only here: each replay writes a fresh checkpoint that it alone
      writes and drops.  The long-lived ``ChangelogStreamSink``
      checkpoint keeps the default, whose rename guards its offset log
      against a second writer."""
    partitions = "spark.sql.shuffle.partitions"
    scoped = {
        partitions: str(min(int(spark.conf.get(partitions)), STREAM_STATE_PARTITIONS)),
        "spark.sql.streaming.checkpointFileManagerClass":
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
    }
    prev = {key: spark.conf.get(key, None) for key in scoped}
    for key, value in scoped.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _replay(spark: SparkSession, stream: DataFrame, name: str,
            mode: str) -> DataFrame:
    """Run a bounded replay of ``stream`` into a memory sink and return
    the sink's rows as one partition.  The memory sink already holds
    every row on the driver, so one partition sets no limit the sink
    does not already set, and ``SinglePartition`` satisfies the
    clustered and ordered distributions of the post-sink window,
    aggregate and sort: each face's post-sink query runs as one job
    with no exchange.  The sink's temp view is dropped once the frame
    is resolved: the frame still reads the sink, and the session keeps
    no view (nor its rows) after the frame is gone."""
    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    with _bounded_replay(spark):
        q = (stream.writeStream.format("memory").queryName(sink)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
    out = spark.table(sink).coalesce(1)
    spark.catalog.dropTempView(sink)
    return out


def _stream_dir(sf_dir: str) -> str:
    """The file stream source wants a DIRECTORY of files; the testdata
    keeps one parquet per table.  Stage a per-sf directory under the
    exit-removed streaming scratch root holding a symlink to the file --
    the read-only source tree is never written."""
    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(scratch_root(), "events_stream", tag)
    os.makedirs(d, exist_ok=True)
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    if os.path.isdir(target):
        # A Spark-written table is a DIRECTORY of part files, and the
        # file stream source does not recurse into a symlinked subdir
        # -- it would silently see ZERO input files (caught by the sf10
        # probe reading 0.4 s for a 10M-row stream).  Symlink each part
        # file, sorted, so replay order is deterministic; an
        # AvailableNow run without maxFilesPerTrigger still processes
        # them as one batch, preserving the order-dependent operators'
        # within-batch event-order semantics.
        parts = sorted(f for f in os.listdir(target)
                       if f.endswith(".parquet"))
        assert parts, f"no parquet part files under {target}"
        for i, f in enumerate(parts):
            link = os.path.join(d, f"part-{i:05d}.parquet")
            if not os.path.islink(link):
                os.symlink(os.path.join(target, f), link)
        return d
    link = os.path.join(d, "events.parquet")
    if not os.path.islink(link):
        os.symlink(target, link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over events with ts_us (BIGINT micros)."""
    from ..sources.tables import footer_schema, ts_us_expr

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = footer_schema(spark, path) or spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))
    ts_us = ts_us_expr(schema["ts"].dataType, source="events_stream:ts")
    return stream.withColumn("ts_us", ts_us).drop("ts")


def windowed_counts(stream: DataFrame) -> DataFrame:
    """Tumbling 1 h window per event_type: count + value sum."""
    ts = F.timestamp_micros(F.col("ts_us"))
    return (
        stream.withColumn("ts", ts)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type", "n", "sum_value",
        )
    )


def dedup_first_seen(stream: DataFrame) -> DataFrame:
    """Streaming exact-dedup: first event per (user, type, hour bucket).

    The streaming face of the dedup tier: dropDuplicatesWithinWatermark
    keeps per-key state only until the watermark passes, so dedup state
    is bounded at 100 TB (the batch analog, ``dedup_exact``, holds the
    whole key set in a shuffle).  Duplicates separated by more than the
    watermark delay are the operator's documented best-effort boundary;
    the bounded AvailableNow replay processes everything in one batch,
    so this run is an exact distinct and the oracle can assert it.
    Only key columns are emitted -- the non-key payload of "the first
    row seen" depends on processing order and would not be
    deterministic under parallelism."""
    ts = F.timestamp_micros(F.col("ts_us"))
    bucket_us = 3_600_000_000
    return (
        stream.withColumn("ts", ts)
        .withWatermark("ts", WATERMARK)
        .withColumn("window_start_us",
                    (F.col("ts_us") - F.col("ts_us") % bucket_us))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "window_start_us"])
        .select("window_start_us", "user_id", "event_type")
    )


SESSION_GAP = "30 minutes"
SESSION_GAP_US = 1_800_000_000


def session_counts(stream: DataFrame) -> DataFrame:
    """Per-user session windows (30 min inactivity gap): dynamic-length
    windows that MERGE as events arrive -- the stateful operator the
    fixed tumbling window cannot express.  Spark keeps one (user,
    open-session) state row, merges on overlap, and emits when the
    watermark passes the session end; state is bounded by active users
    x open sessions, not history.  A session spans [first event, last
    event + gap); an event at EXACTLY prev + gap still MERGES (the
    merge test is ts <= session end, pinned in tests/test_streaming.py
    -- a new session needs a strictly larger gap), which the oracle's
    island rule replays."""
    ts = F.timestamp_micros(F.col("ts_us"))
    return (
        stream.withColumn("ts", ts)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "user_id", "n_events", "sum_value",
        )
    )


def run_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the stream through session windows; return the sink."""
    out = _replay(spark, session_counts(events_stream(spark, sf_dir)),
                  "events_sessions", "complete")
    return out.orderBy("user_id", "session_start_us")


def run_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the stream through the dedup; return the sink."""
    out = _replay(spark, dedup_first_seen(events_stream(spark, sf_dir)),
                  "events_dedup", "append")
    return out.orderBy("window_start_us", "user_id", "event_type")


def enriched_windowed_revenue(spark: SparkSession, stream: DataFrame,
                              sf_dir: str) -> DataFrame:
    """Stream-static enrichment: each micro-batch joins the static
    customer dimension (broadcast per trigger -- Spark re-reads a
    static side cheaply and the join itself keeps NO state), then a
    watermarked tumbling window aggregates value per market segment.
    The production shape for attaching slowly-changing dims to an
    event stream at 100 TB: only the post-join aggregate is stateful,
    and its cardinality is (windows x segments), not events."""
    from ..sources.tables import load_table

    dim = (load_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    ts = F.timestamp_micros(F.col("ts_us"))
    return (
        stream.join(F.broadcast(dim), "user_id")
        .withColumn("ts", ts)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), F.col("c_mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             # ROUND(...,6) on visible float outputs, both engines: raw
             # SUM(double) is summation-order sensitive and would trip
             # the driver's typed value-hash at larger SFs
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "c_mktsegment", "n_events", "sum_value",
        )
    )


def run_enriched_windowed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the stream through the enrichment join; return the sink."""
    stream = enriched_windowed_revenue(spark, events_stream(spark, sf_dir), sf_dir)
    out = _replay(spark, stream, "events_enriched", "complete")
    return out.orderBy("window_start_us", "c_mktsegment")


def run_topk_trending(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming top-k trending event types per hour window.

    Ranking is not a streaming-supported aggregate (it needs the whole
    window's counts), so the production shape is: the STATEFUL part --
    watermarked tumbling-window counts -- runs in the stream, and the
    rank runs per emitted result set (foreachBatch in a live
    deployment; here the bounded replay lands the counts in the sink
    and the rank is the post-sink batch step).  State stays
    (windows x types)-bounded; the rank input is the aggregate's
    output, never raw events.  Ties break on event_type, so the top-k
    cut is deterministic on both engines."""
    from pyspark.sql.window import Window

    out = _replay(spark, windowed_counts(events_stream(spark, sf_dir)),
                  "events_trending", "complete")
    w = Window.partitionBy("window_start_us").orderBy(F.desc("n"), "event_type")
    return (
        out.withColumn("trend_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("trend_rank") <= k)
        .select("window_start_us", "trend_rank", "event_type", "n")
        .orderBy("window_start_us", "trend_rank")
    )


def run_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the stream to completion; return the sink as a DataFrame."""
    out = _replay(spark, windowed_counts(events_stream(spark, sf_dir)),
                  "events_windowed", "complete")
    return out.orderBy("window_start_us", "event_type")


ATTRIBUTION_WINDOW_US = 3_600_000_000  # 1 hour


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase pairs
    with the same user's clicks in the preceding hour (inclusive both
    ends).  The one streaming face the tier lacked: both sides are
    unbounded, so the join buffers each side in state only until the
    watermark plus the interval passes -- click state is droppable
    1 h + watermark after its event time, which is what makes a
    stream-stream join runnable forever at 100 TB (a batch as-of join
    would re-scan history every run).  The range condition rides ON the
    event-time columns, so Spark derives the state-eviction bound
    instead of keeping both sides forever."""
    c = (clicks.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_us").alias("click_us"))
         .withColumn("c_ts", F.timestamp_micros(F.col("click_us")))
         .withWatermark("c_ts", WATERMARK))
    p = (purchases.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_us").alias("purchase_us"))
         .withColumn("p_ts", F.timestamp_micros(F.col("purchase_us")))
         .withWatermark("p_ts", WATERMARK))
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "inner")
        .select(
            "purchase_id", "click_id",
            (F.col("purchase_us") - F.col("click_us")).alias("gap_us"),
        )
    )


def run_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stream-stream join; return the sink.
    Both sides filter the SAME source stream (a streaming self-join),
    the production shape for intra-topic attribution."""
    ev = events_stream(spark, sf_dir)
    joined = click_purchase_join(ev.filter(F.col("event_type") == "click"),
                                 ev.filter(F.col("event_type") == "purchase"))
    out = _replay(spark, joined, "events_ssjoin", "append")
    return out.orderBy("purchase_id", "click_id")
