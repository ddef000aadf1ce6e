"""Streaming MRU: the reference's mru_manager (p4/server/my_mru.cc —
remove-if-present, push-front, cap-drop-back) as a custom stateful
operator over the event stream — the KVT command's streaming face.

State per user is the recency-ordered list of distinct event types
(most recent LAST, parallel ts array), bounded at MRU_K entries —
independent of history length.  Each trigger folds its group's new
rows in (ts, event_id) order: an already-present type is removed and
re-appended (the reference's re-insert-at-front), and overflow evicts
the least-recent.  The eviction is LOSSLESS for the final answer: a
type evicted at time t has an older last-occurrence than K others and
can only re-enter by occurring again, so the converged state equals
"top K distinct types by last occurrence" — which is what the DuckDB
oracle asserts declaratively (two ROW_NUMBER passes).

Scale shape follows quota_stream: shuffle key is user_id, state never
leaves its partition, K*|users| bounded state.

The state's lists are JSON text, not ArrayType: Spark builds a fresh
state encoder for every run, and an array field's element conversion
gets new lambda-variable ids each time, so its generated code differed
on every run and was compiled again.  JSON round-trips int64 and str
lists exactly.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

MRU_K = 5

STATE_SCHEMA = StructType([
    StructField("ts", StringType()),   # JSON list of int
    StructField("et", StringType()),   # JSON list of str
    StructField("n_seen", LongType()),
])

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("mru_rank", LongType()),
    StructField("event_type", StringType()),
    StructField("n_seen", LongType()),
])


def mru_fold(ts_l: list, et_l: list, rows) -> None:
    """The reference fold, in-place: rows is an iterable of (ts, type)
    in event order; most recent sits at the END of the lists."""
    for ts, et in rows:
        if et in et_l:
            i = et_l.index(et)
            del ts_l[i], et_l[i]
        ts_l.append(ts)
        et_l.append(et)
        if len(et_l) > MRU_K:
            del ts_l[0], et_l[0]


def _mru_group(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        ts_j, et_j, n_seen = state.get
        ts_l, et_l = json.loads(ts_j), json.loads(et_j)
    else:
        ts_l, et_l, n_seen = [], [], 0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"], kind="mergesort")
    mru_fold(ts_l, et_l, zip(rows["ts_us"].tolist(), rows["event_type"].tolist()))
    n_seen += len(rows)
    state.update((json.dumps(ts_l), json.dumps(et_l), n_seen))
    k = len(et_l)
    yield pd.DataFrame({
        "user_id": [key[0]] * k,
        "mru_rank": list(range(1, k + 1)),       # 1 = most recent
        "event_type": list(reversed(et_l)),
        "n_seen": [n_seen] * k,
    })


def mru_types(stream: DataFrame) -> DataFrame:
    return (
        stream.select("user_id", "event_id", "ts_us", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _mru_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_mru_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stateful MRU; K rows per user.

    Each trigger emits the user's FULL current list stamped with the
    monotone n_seen counter; a multi-trigger replay therefore dedups by
    keeping each user's max-n_seen emission (earlier snapshots are
    stale state, not deltas)."""
    from operating_system_map_reduce_spark.streaming.windows import (
        _replay, events_stream)
    from pyspark.sql.window import Window

    out = _replay(spark, mru_types(events_stream(spark, sf_dir)),
                  "mru_types", "update")
    w = Window.partitionBy("user_id")
    return (
        out.withColumn("_mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("_mx"))
        .select("user_id", "mru_rank", "event_type")
        .orderBy("user_id", "mru_rank")
    )
