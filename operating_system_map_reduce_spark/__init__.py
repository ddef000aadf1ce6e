"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference KV/map-reduce system
(ZheyanChen/Operating_system_map-Reduce), re-expressed Spark-first.

Layout:
    session     -- SparkSession factory tuned for scale (AQE, Arrow, partitions)
    daemon      -- the sessions' Python worker daemon (pyspark's, minus a
                   per-task re-read of pyspark.zip)
    codes       -- protocol response-code strings (reference p5/common/protocol.h)
    engine      -- KVEngine: Storage-API-compatible surface (auth/kv/quota/mru/mr)
    operators/  -- reusable distributed operators (kv, mapreduce, dedup, ...)
    sources/    -- changelog append-log + replay, parquet helpers
    functions/  -- scalar helper functions (hashing, codecs, text metrics)
    plans/      -- the query library exposed through __spark_entry__
    streaming/  -- structured-streaming variants (quota tracker, CDC)
"""

from operating_system_map_reduce_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
