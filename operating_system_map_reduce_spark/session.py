"""SparkSession factory.

The reference server exposes scale knobs on its CLI (buckets, threads,
quota intervals -- p5/server/server.cc:20-31).  Our equivalent is a tuned
SparkSession: shuffle partitioning replaces hash buckets, AQE replaces
hand-tuning, Arrow makes the Python boundary cheap.

Designed for a real cluster: every setting here is also valid under a
multi-executor master; local[N] is only the test harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # broadcast demotion) -- essential at 100 TB where static estimates lie.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # A silently-crashed Python worker otherwise deadlocks its JVM task
    # on the dead socket with no traceback (observed once at sf100 --
    # SCALING.md round-14 incident note); the faulthandler costs
    # nothing in steady state and turns that hang into a diagnosable
    # task failure.
    "spark.python.worker.faulthandler.enabled": "true",
    # Dimension tables (region/nation/supplier/part at these SFs) should
    # broadcast; 64 MB is safe with multi-GB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan parallelism: keep file splits near the default 128 MB so a
    # 100 TB table yields ~800k tasks, not 8 tasks.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Timestamps in testdata are TIMESTAMP_NTZ-ish; keep parquet rebase off.
    "spark.sql.session.timeZone": "UTC",
    # Loose shuffle-partition floor; AQE coalesces down as needed.
    "spark.sql.shuffle.partitions": "32",
    # Shuffle-width HEADROOM, not width: AQE coalesces oversized
    # partition counts down to target size but can never split a
    # non-skew shuffle up, so the INITIAL count must exceed what the
    # largest shuffle needs and coalescing handles the rest.  The sf1
    # spot-run measured the failure mode: pagerank_neardup at 10x data
    # on the bare 32-partition floor swung 7-43 s (sort spill + GC
    # pressure at ~10x rows per partition) vs a stable ~9 s with 256
    # initial partitions -- and at 100 TB a fixed small count is fatal.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # local[N] runs all N task slots inside the driver JVM, so the
    # driver heap IS the executor heap: Spark's 1g default leaves
    # ~30 MB of working memory per slot at N=32 and OOMed the sf1
    # scaling spot-run (round 10).  8g keeps per-slot memory at the
    # level a real executor would get; on a cluster this setting is
    # irrelevant (executors are sized by spark-submit).  Only effective
    # when this factory launches the JVM -- getOrCreate on a live
    # session cannot resize the heap.
    "spark.driver.memory": "8g",
}


def get_spark(app_name: str = "osmr-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test harness; on a cluster, pass None with a configured
    spark-submit and the submitted master wins.  ``extra_conf`` entries
    override ``_DEFAULTS`` (e.g. ``{"spark.driver.memory": "2g"}``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
