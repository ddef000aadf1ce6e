"""Bucketed tables: co-located, shuffle-free joins.

The reference co-locates work by hashing keys into a fixed bucket
array once at insert time (p2/server/concurrenthashmap.h: the bucket
index IS the placement); Spark's equivalent for *data at rest* is
``bucketBy``: each table is hash-partitioned into N buckets when
written, and a join of two tables bucketed the same way on the join
key needs NO Exchange -- the single biggest shuffle eliminated at
100 TB, where a fact-fact join's shuffle is typically the dominant
stage.  ``sortBy`` additionally pre-sorts within buckets so the
SortMergeJoin skips its sort.

tests/test_plans.py asserts the physical plan of the registered
bucketed join (bucketed_segment_revenue): no exchange feeds the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 16,
                   one_file_per_bucket: bool = False) -> None:
    """Persist ``df`` as a parquet catalog table bucketed and sorted on
    ``key``.  ``table`` may be qualified (``db.name``); its files go to
    ``<db location>/<name>`` -- for the at-rest tables, a directory in
    the process's scratch root (plans/analytics.py).  At 100 TB,
    n_buckets is sized so a bucket's largest co-grouped key set fits an
    executor (~shuffle partition sizing, but decided once at write
    time).

    ``one_file_per_bucket`` repartitions on the bucket key first
    (murmur3 HashPartitioning — the same hash the bucket id uses, so
    each task holds exactly one bucket) and was measured a strict win
    for the at-rest builds (sf10 b_post): build 13.8 →
    7.4 s (32 writers each committing ONE sorted file instead of 32
    tasks × 32 buckets = 1024 tiny files) and downstream reads ~9%
    faster (no per-bucket multi-file merge).  Trade-offs: the
    repartition is one extra exchange of the build input (paid once,
    at write time), a hot bucket is written by a single task (but a
    skewed bucket equally straggles every downstream co-bucketed
    join — n_buckets sizing is the real lever), and against an input
    that is ALREADY a matching bucketed scan the planner elides the
    repartition (harmless: the write falls back to per-task files —
    compact_bucketed exists for that case and uses a forced bucketed
    scan instead)."""
    _save(df, table, key, n_buckets, "overwrite", one_file_per_bucket)


def append_bucketed(df: DataFrame, table: str, key: str,
                    n_buckets: int = 16) -> None:
    """Append delta rows into an existing bucketed table (same spec --
    Spark enforces the bucket count/key match).

    The scale contract this preserves: every append lands its rows in
    the CORRECT bucket files (one new file per non-empty bucket), so
    co-bucketed joins stay exchange-free across any number of appends
    -- the corpus-sized rows still never move.  What an append does
    cost: a bucket holding more than one file loses the at-rest SORT
    guarantee (Spark only trusts sortBy when a bucket is a single
    file), so downstream SortMergeJoins regain their per-bucket sort
    until ``compact_bucketed`` rewrites one file per bucket -- the
    same append-then-compact lifecycle as the reference's changelog +
    SAV (p2/server/map.h SAV contract), applied to the analytic
    at-rest tier.  At 100 TB this is the difference between paying
    the delta (minutes) and paying the corpus (hours) on every
    ingest tick.

    The delta is repartitioned on the bucket key first (the delta is
    small, the shuffle is cheap): that bounds fragmentation at ONE new
    file per bucket per tick instead of one per (task, bucket),
    stretching the compaction interval correspondingly."""
    _save(df, table, key, n_buckets, "append", one_file_per_bucket=True)


def compact_bucketed(spark: SparkSession, table: str, key: str,
                     n_buckets: int = 16) -> None:
    """Rewrite an append-fragmented bucketed table to one file per
    bucket, restoring the at-rest sort guarantee appends suspend (see
    append_bucketed).  The rewrite is a full pass over the table --
    exactly the reference's SAV compaction economics: pay it
    periodically, not per ingest tick.  Implemented as write-aside +
    catalog rename so a failure mid-rewrite leaves the original table
    intact (readers of the OLD table in this session keep their
    files; same atomic-swap discipline as sources/changelog.compact)."""
    tmp = f"{table}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    # A bucketed write emits one file per bucket PER TASK, so reaching
    # one file per bucket needs each task to hold exactly one bucket.
    # FORCING the bucketed scan does that with NO shuffle: one task
    # per input bucket reads that bucket's fragment files and writes
    # the merged (re-sorted) single file for the same bucket -- the
    # compaction is a per-bucket local rewrite, which is also the
    # 100 TB plan (an explicit repartition would be both a corpus
    # shuffle AND is silently elided by the planner against a
    # bucketed source -- probed, leaving one file per
    # arbitrary task).  autoBucketedScan would otherwise drop the
    # bucket layout here because the write expresses no distribution
    # requirement.  (saveAsTable reads the old files and writes new
    # ones; the source table is untouched until the swap.)
    auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(auto, None)
    spark.conf.set(auto, "false")
    try:
        write_bucketed(spark.table(table), tmp, key, n_buckets)
    finally:
        if prev is None:
            spark.conf.unset(auto)
        else:
            spark.conf.set(auto, prev)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


def _save(df: DataFrame, table: str, key: str, n_buckets: int, mode: str,
          one_file_per_bucket: bool) -> None:
    if one_file_per_bucket:
        from pyspark.sql import functions as F

        df = df.repartition(n_buckets, F.col(key))
    (df.write.format("parquet").mode(mode)
     .bucketBy(n_buckets, key).sortBy(key).saveAsTable(table))
