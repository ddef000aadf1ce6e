"""Structured Streaming queries surfaced through the driver contract.

Each callable replays the events table through a real readStream
(Trigger.AvailableNow) and returns the landed sink, so the driver's
collect sees a plain DataFrame.  ``stream_windowed_counts`` is
SQL-expressible (tumbling windows are epoch-aligned hourly buckets) and
carries a DuckDB oracle.  ``stream_quota_admission`` is the reference's
sequential admit/record quota state machine
(p4/server/my_quota_tracker.cc:44-77) -- order-dependent and
non-associative, but still oracled: a recursive CTE replays the fold
event-by-event per user (state = the list of live admitted (ts, amt)
pairs, exactly my_quota_tracker's deque).  Both engines evaluate the
admission sum as a left-to-right fold over the same event order
(Python ``sum`` / DuckDB ``list_sum``), so the doubles match
bit-for-bit -- no rounding needed.  tests/test_streaming.py
additionally pins the semantics against the pure-Python tracker.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.streaming.quota_stream import run_quota_admission
from operating_system_map_reduce_spark.streaming.windows import (
    run_dedup_first_seen, run_session_counts, run_windowed_counts)


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_windowed_counts(spark, sf_dir)


def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_dedup_first_seen(spark, sf_dir)


# The watermark-bounded streaming dedup collapses to a plain DISTINCT
# over the bounded replay (see streaming/windows.dedup_first_seen).
STREAM_DEDUP_SQL = """
SELECT DISTINCT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       user_id, event_type
FROM events
ORDER BY window_start_us, user_id, event_type
"""


STREAM_WINDOW_SQL = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type, COUNT(*) AS n, SUM(value) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_session_counts(spark, sf_dir)


# Gaps-and-islands replay of Spark's merging session window: an event
# at EXACTLY prev + gap still merges (session_window's merge test is
# ts <= session end, verified in tests/test_streaming.py), so a new
# session starts only when the gap is STRICTLY GREATER than the 30 min
# threshold; session end = last event + gap.
STREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
), marked AS (
  SELECT *,
         CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                   > 1800000000
              OR LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e
), islands AS (
  SELECT *,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       user_id, COUNT(*) AS n_events, SUM(value) AS sum_value
FROM islands GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""


def stream_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_quota_admission(spark, sf_dir)


# Recursive-CTE replay of the sliding-window admission state machine
# (p4/server/my_quota_tracker.cc:44-77).  Base case: one row per user
# with empty live-event state; recursive step: process that user's
# rn-th event -- evict live entries older than the window, admit iff
# the left-to-right sum of live amounts plus this amount stays within
# QUOTA_MAX, and record admitted events in state.  Mirrors
# streaming/quota_stream._admit_group line for line.
STREAM_QUOTA_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ev
  FROM events
),
sim AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn, max(n_ev) AS n_ev,
         CAST([] AS STRUCT(ts BIGINT, amt DOUBLE)[]) AS live,
         CAST(0 AS BIGINT) AS n_admitted, CAST(0 AS BIGINT) AS n_rejected,
         CAST(0.0 AS DOUBLE) AS admitted_amount
  FROM ev GROUP BY user_id
  UNION ALL
  SELECT user_id, rn, n_ev,
         CASE WHEN adm THEN list_append(kept, {'ts': ts_us, 'amt': value}) ELSE kept END AS live,
         n_admitted + CASE WHEN adm THEN 1 ELSE 0 END,
         n_rejected + CASE WHEN adm THEN 0 ELSE 1 END,
         admitted_amount + CASE WHEN adm THEN value ELSE 0.0 END
  FROM (
    SELECT t.*,
           COALESCE(list_sum(list_transform(kept, x -> x.amt)), 0.0) + value <= 50.0 AS adm
    FROM (
      SELECT s.user_id, s.rn + 1 AS rn, s.n_ev,
             list_filter(s.live, x -> x.ts > e.ts_us - 3600000000) AS kept,
             e.ts_us, e.value,
             s.n_admitted, s.n_rejected, s.admitted_amount
      FROM sim s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
    ) t
  )
)
SELECT user_id, n_admitted, n_rejected, admitted_amount
FROM sim WHERE rn = n_ev ORDER BY user_id
"""


def stream_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.streaming.windows import (
        run_enriched_windowed_revenue,
    )

    return run_enriched_windowed_revenue(spark, sf_dir)


# Stream-static join + tumbling window over the bounded replay = a
# plain batch join + epoch-bucket group.
STREAM_ENRICH_SQL = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       c_mktsegment, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.streaming.windows import (
        run_topk_trending,
    )

    return run_topk_trending(spark, sf_dir)


# Streaming windowed counts + per-window rank over the emitted result
# set (the foreachBatch pattern); over the bounded replay this closes
# to a batch group + ROW_NUMBER with the same deterministic tie-break.
STREAM_TOPK_SQL = """
SELECT window_start_us, CAST(rnk AS BIGINT) AS trend_rank, event_type, n
FROM (
  SELECT window_start_us, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY window_start_us
                            ORDER BY n DESC, event_type) AS rnk
  FROM (
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
  )
)
WHERE rnk <= 3
ORDER BY window_start_us, trend_rank
"""


def stream_mru_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.streaming.mru_stream import (
        run_mru_types,
    )

    return run_mru_types(spark, sf_dir)


# Declarative closure of the MRU fold (see streaming/mru_stream.py for
# the eviction-losslessness argument): per user the K most recent
# DISTINCT event types by last occurrence, ties on last ts broken by
# event_id (the fold's processing order).
STREAM_MRU_SQL = """
WITH last AS (
  SELECT user_id, event_type, ts_us, event_id FROM (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT user_id, CAST(rnk AS BIGINT) AS mru_rank, event_type FROM (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us DESC, event_id DESC) AS rnk
  FROM last
) WHERE rnk <= 5
ORDER BY user_id, mru_rank
"""


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (see streaming/windows.
    click_purchase_join): purchases paired with same-user clicks in the
    preceding hour, both sides watermarked unbounded streams.  The
    bounded AvailableNow replay joins everything in one batch, so the
    result equals the batch interval join the oracle spells."""
    from operating_system_map_reduce_spark.streaming.windows import (
        run_click_purchase_join,
    )

    return run_click_purchase_join(spark, sf_dir)


STREAM_SSJOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
)
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.ts_us - c.ts_us AS gap_us
FROM e p JOIN e c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts_us BETWEEN p.ts_us - 3600000000 AND p.ts_us
ORDER BY purchase_id, click_id
"""


# --- stream_novelty_filter: the continuous-crawl cascade -------------------
# Waves of documents arrive as a stream; each wave probes the standing
# LSH/exact index and fully-novel docs are ADMITTED -- their bands and
# hashes join the index before the next wave (streaming/
# novelty_stream.py).  Wave k's verdicts depend on every admission in
# waves < k, which the one-shot corpus_novelty_filter cannot express.
# The oracle unrolls the identical NOVELTY_WAVES-step cascade as CTEs
# (the pagerank unrolled-iteration precedent); the shared
# _SIG_BANDS_CTE guarantees both engines index the same bands.

def stream_novelty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.streaming.novelty_stream import (
        run_novelty_stream,
    )

    return run_novelty_stream(spark, sf_dir)


def _cascade_prefix(through_final_index: bool) -> str:
    """The unrolled-cascade CTE chain shared by the admission-log
    oracle (STREAM_NOVELTY_SQL) and the compacted-index oracle
    (NOVELTY_INDEX_SQL).  With through_final_index=False the text is
    byte-identical to the pre-refactor STREAM_NOVELTY_SQL prefix; with
    True the adm/idx chain extends one more step to idx_*{W} -- the
    index AFTER the last wave's admissions, which is what the
    implementation's per-wave append leaves on disk."""
    from operating_system_map_reduce_spark.plans.pipeline import _SIG_BANDS_CTE
    from operating_system_map_reduce_spark.streaming.novelty_stream import (
        NOVELTY_WAVES,
    )

    parts = [f"""{_SIG_BANDS_CTE}, idx_b0 AS (
  SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 10 <> 7
), idx_h0 AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
), batchd AS (
  SELECT doc_id, md5(text) AS h, (doc_id // 10) % {NOVELTY_WAVES} AS wave
  FROM documents WHERE doc_id % 10 = 7
)"""]
    for w in range(NOVELTY_WAVES):
        parts.append(f""", log{w} AS (
  SELECT d.doc_id, d.wave,
         CAST(COALESCE(bh.n, 0) AS BIGINT) AS n_band_hits,
         CAST(CASE WHEN d.h IN (SELECT h FROM idx_h{w})
              THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
  FROM batchd d LEFT JOIN (
    SELECT b.doc_id, COUNT(*) AS n
    FROM bands b JOIN idx_b{w} i
      ON b.band_idx = i.band_idx AND b.band_hash = i.band_hash
    GROUP BY b.doc_id
  ) bh ON d.doc_id = bh.doc_id
  WHERE d.wave = {w}
)""")
        if w < NOVELTY_WAVES - 1 or through_final_index:
            parts.append(f""", adm{w} AS (
  SELECT doc_id FROM log{w} WHERE n_band_hits = 0 AND exact_dup = 0
), idx_b{w + 1} AS (
  SELECT band_idx, band_hash FROM idx_b{w}
  UNION
  SELECT band_idx, band_hash FROM bands
  WHERE doc_id IN (SELECT doc_id FROM adm{w})
), idx_h{w + 1} AS (
  SELECT h FROM idx_h{w}
  UNION
  SELECT h FROM batchd WHERE doc_id IN (SELECT doc_id FROM adm{w})
)""")
    return "".join(parts)


def _novelty_cascade_sql() -> str:
    from operating_system_map_reduce_spark.streaming.novelty_stream import (
        NOVELTY_WAVES,
    )

    union = " UNION ALL ".join(f"SELECT * FROM log{w}"
                               for w in range(NOVELTY_WAVES))
    return _cascade_prefix(through_final_index=False) + f"""
SELECT doc_id, CAST(wave AS BIGINT) AS wave, n_band_hits, exact_dup,
       CAST(CASE WHEN n_band_hits = 0 AND exact_dup = 0
            THEN 1 ELSE 0 END AS BIGINT) AS admitted
FROM ({union})
ORDER BY doc_id
"""


STREAM_NOVELTY_SQL = _novelty_cascade_sql()


# --- stream_novelty_index_compact: the standing index's SAV -------------
# Run the full admission cascade, then compact the
# standing index table (streaming/novelty_stream.compact_novelty_index
# -- distinct-snapshot rewrite + atomic swap, the SAV shape of
# p3/server/my_storage.cc:505-565) and return the compacted index
# ROWS.  The oracle derives the post-cascade index independently (the
# unrolled-cascade CTEs extended one step past the last wave), so the
# gate value-hashes compaction's set-preservation contract end-to-end:
# admission verdicts are pure joins against this row set.  NULL
# discipline: the two kinds' unused columns are coalesced to sentinels
# (-1 / '') on BOTH engines -- Spark orders NULLS FIRST, DuckDB NULLS
# LAST, so a nullable sort key would hash-diverge on row order.

def stream_novelty_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.streaming import scratch_root
    from operating_system_map_reduce_spark.streaming.novelty_stream import (
        compact_novelty_index, run_novelty_stream,
    )

    idx = os.path.join(scratch_root(), f"index-{uuid.uuid4().hex[:12]}")
    run_novelty_stream(spark, sf_dir, index_out_dir=idx)
    compact_novelty_index(spark, idx, files_per_kind=2)
    return (spark.read.parquet(idx)
            .select(F.col("kind").cast("string").alias("kind"),
                    F.coalesce(F.col("band_idx"), F.lit(-1))
                    .cast("int").alias("band_idx"),
                    F.coalesce(F.col("band_hash"), F.lit(""))
                    .alias("band_hash"),
                    F.coalesce(F.col("h"), F.lit("")).alias("h"))
            .orderBy("kind", "band_idx", "band_hash", "h"))


def _novelty_index_sql() -> str:
    from operating_system_map_reduce_spark.streaming.novelty_stream import (
        NOVELTY_WAVES,
    )

    w = NOVELTY_WAVES
    return _cascade_prefix(through_final_index=True) + f"""
SELECT * FROM (
  SELECT 'band' AS kind, CAST(band_idx AS INTEGER) AS band_idx,
         band_hash, '' AS h FROM idx_b{w}
  UNION ALL
  SELECT 'hash' AS kind, CAST(-1 AS INTEGER) AS band_idx,
         '' AS band_hash, h FROM idx_h{w}
)
ORDER BY kind, band_idx, band_hash, h
"""


NOVELTY_INDEX_SQL = _novelty_index_sql()


QUERIES = {
    "stream_novelty_filter": stream_novelty_filter,
    "stream_mru_types": stream_mru_types,
    "stream_click_purchase_join": stream_click_purchase_join,
    "stream_topk_trending": stream_topk_trending,
    "stream_windowed_counts": stream_windowed_counts,
    "stream_dedup_first_seen": stream_dedup_first_seen,
    "stream_session_counts": stream_session_counts,
    "stream_quota_admission": stream_quota_admission,
    "stream_enrich_revenue": stream_enrich_revenue,
    "stream_novelty_index_compact": stream_novelty_index_compact,
}

ORACLES = {
    "stream_novelty_filter": STREAM_NOVELTY_SQL,
    "stream_mru_types": STREAM_MRU_SQL,
    "stream_click_purchase_join": STREAM_SSJOIN_SQL,
    "stream_topk_trending": STREAM_TOPK_SQL,
    "stream_windowed_counts": STREAM_WINDOW_SQL,
    "stream_dedup_first_seen": STREAM_DEDUP_SQL,
    "stream_session_counts": STREAM_SESSION_SQL,
    "stream_quota_admission": STREAM_QUOTA_SQL,
    "stream_enrich_revenue": STREAM_ENRICH_SQL,
    "stream_novelty_index_compact": NOVELTY_INDEX_SQL,
}
