"""Streaming quota admission: the reference's sliding-window tracker
(p4/server/my_quota_tracker.cc:44-77) as a custom stateful operator.

Semantics carried over exactly (see operators/quota.py):
 - events older than the window are evicted before each decision;
 - admit iff sum(live amounts) + amount <= max;
 - admitted events are recorded in state, rejected ones are NOT.

This ordering-dependent, non-associative state machine is precisely
what ``applyInPandasWithState`` exists for: state is a per-user deque
of live (ts, amount) pairs -- bounded by window x rate, independent of
history length -- and each trigger processes its group's new rows in
event order.  The shuffle key is user_id, so state never leaves its
partition; at 1000 executors each holds 1/1000th of the users.  The
deque's two lists are stored as JSON text, as in mru_stream: an
ArrayType state field is compiled again on every run.  JSON round-trips
int64 and float (repr) lists exactly.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

QUOTA_MAX = 50.0            # max units admitted per sliding window
WINDOW_US = 3_600_000_000   # 1 h, microseconds

# state: parallel lists of the live (admitted, in-window) events
STATE_SCHEMA = StructType([
    StructField("ts", StringType()),    # JSON list of int
    StructField("amt", StringType()),   # JSON list of float
])

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_admitted", LongType()),
    StructField("n_rejected", LongType()),
    StructField("admitted_amount", DoubleType()),
])


def _admit_group(key: tuple, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    if state.exists:
        ts_live, amt_live = (json.loads(v) for v in state.get)
    else:
        ts_live, amt_live = [], []
    admitted = rejected = 0
    admitted_amount = 0.0
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"], kind="mergesort")
    for ts, amt in zip(rows["ts_us"].tolist(), rows["value"].tolist()):
        while ts_live and ts_live[0] <= ts - WINDOW_US:
            ts_live.pop(0)
            amt_live.pop(0)
        if sum(amt_live) + amt > QUOTA_MAX:
            rejected += 1
            continue
        ts_live.append(ts)
        amt_live.append(amt)
        admitted += 1
        admitted_amount += amt
    state.update((json.dumps(ts_live), json.dumps(amt_live)))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_admitted": [admitted],
        "n_rejected": [rejected],
        "admitted_amount": [admitted_amount],
    })


def quota_admission(stream: DataFrame) -> DataFrame:
    """Per-user admission tallies for each trigger's new events."""
    return (
        stream.select("user_id", "event_id", "ts_us", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _admit_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stateful operator; one row per user."""
    from operating_system_map_reduce_spark.streaming.windows import (
        _replay, events_stream)

    out = _replay(spark, quota_admission(events_stream(spark, sf_dir)),
                  "quota_admission", "update")
    # several triggers may emit the same user; later rows supersede --
    # but tallies are per-trigger deltas, so aggregate them.
    return (
        out.groupBy("user_id")
        .agg(
            F.sum("n_admitted").alias("n_admitted"),
            F.sum("n_rejected").alias("n_rejected"),
            F.sum("admitted_amount").alias("admitted_amount"),
        )
        .orderBy("user_id")
    )
