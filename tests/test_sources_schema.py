"""Loader robustness against testdata regeneration.

Round 3 post-mortem: the driver regenerated /root/testdata and events.ts
changed encoding from TIMESTAMP(NANOS) to TIMESTAMP(US); the loader
assumed nanos-as-long and every events-touching query cascaded into the
same DATATYPE_MISMATCH.  These tests pin the loader against BOTH
encodings (writing tiny parquet files in each) and assert that schema
drift on any table produces one clear TableSchemaError naming the file,
not a downstream analysis error.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from operating_system_map_reduce_spark.sources.tables import (
    TableSchemaError,
    footer_schema,
    load_events,
)

# One row per encoding: 2021-03-04T05:06:07.123456Z
US_SINCE_EPOCH = 1_614_834_367_123_456


def _write_events(path: str, ts_array: pa.Array) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([42], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k":1}'], pa.string()),
        }
    )
    pq.write_table(tbl, path)


# name -> (arrow type, stored ts value, the type Spark loads it as)
TS_ENCODINGS = {
    "timestamp_us": (pa.timestamp("us"), US_SINCE_EPOCH, "timestamp_ntz"),
    "timestamp_ns": (pa.timestamp("ns"), US_SINCE_EPOCH * 1000, "bigint"),
    "timestamp_us_utc": (pa.timestamp("us", tz="UTC"), US_SINCE_EPOCH,
                         "timestamp"),
    "timestamp_ns_utc": (pa.timestamp("ns", tz="UTC"), US_SINCE_EPOCH * 1000,
                         "bigint"),
    "timestamp_ms_utc": (pa.timestamp("ms", tz="UTC"), US_SINCE_EPOCH // 1000,
                         "timestamp"),
}


@pytest.mark.parametrize(
    "encoding",
    ["timestamp_us", "timestamp_ns", "timestamp_us_utc"],
)
def test_events_loader_handles_both_ts_encodings(spark, tmp_path, encoding):
    d = tmp_path / encoding
    d.mkdir()
    arrow_type, stored, _ = TS_ENCODINGS[encoding]
    ts = pa.array([stored], arrow_type)
    _write_events(str(d / "events.parquet"), ts)
    df = load_events(spark, str(d))
    assert "ts_us" in df.columns and "ts" not in df.columns
    row = df.collect()[0]
    assert row["ts_us"] == US_SINCE_EPOCH
    assert df.schema["ts_us"].dataType.simpleString() == "bigint"


@pytest.mark.parametrize("encoding", sorted(TS_ENCODINGS))
def test_footer_schema_is_the_schema_spark_infers(spark, tmp_path, encoding):
    """events_stream reads the schema from the footer instead of running
    Spark's inference job; for every ts encoding ts_us_expr accepts it
    is the StructType Spark infers, nullability included."""
    arrow_type, stored, spark_type = TS_ENCODINGS[encoding]
    path = str(tmp_path / "events.parquet")
    _write_events(path, pa.array([stored], arrow_type))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    want = spark.read.parquet(path).schema
    assert want["ts"].dataType.simpleString() == spark_type
    assert footer_schema(spark, path) == want


def test_footer_schema_leaves_other_layouts_to_spark(tmp_path):
    ints = str(tmp_path / "ints.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), ints)
    nested = str(tmp_path / "nested.parquet")
    pq.write_table(pa.table({"a": pa.array([{"b": 1}])}), nested)
    assert footer_schema(None, ints) is None
    assert footer_schema(None, nested) is None
    assert footer_schema(None, str(tmp_path)) is None


def test_schema_drift_raises_named_error(spark, tmp_path):
    d = tmp_path / "drift"
    d.mkdir()
    # events.parquet whose ts column is a STRING: neither encoding.
    _write_events(
        str(d / "events.parquet"),
        pa.array(["2021-03-04"], pa.string()),
    )
    with pytest.raises(TableSchemaError, match="events.parquet"):
        load_events(spark, str(d))


def test_missing_column_raises_named_error(spark, tmp_path):
    d = tmp_path / "missing"
    d.mkdir()
    tbl = pa.table({"doc_id": pa.array([1], pa.int64())})  # no text column
    pq.write_table(tbl, str(d / "documents.parquet"))
    from operating_system_map_reduce_spark.sources.tables import load_table

    with pytest.raises(TableSchemaError, match="text"):
        load_table(spark, str(d), "documents")


def test_real_testdata_loads_all_tables(spark, sf_dir):
    """Smoke: every table in the current generated testdata passes the
    schema assertion -- if the driver regenerates with a drifted schema
    this is the first test to go red, with a message naming the file."""
    from operating_system_map_reduce_spark.sources.tables import load_table

    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        df = load_table(spark, sf_dir, name)
        assert len(df.columns) >= 2, name


def test_ts_us_is_session_timezone_independent(spark, sf_dir):
    """ts_us must be the stored microsecond count regardless of
    spark.sql.session.timeZone: the old NTZ -> LTZ cast interpreted
    wall time in the session zone and silently shifted every events
    query by the UTC offset on un-pinned sessions (DuckDB's epoch_us
    is TZ-free, so the driver compare would diverge).

    Uses the shared session fixture with conf.set/restore -- a second
    builder.getOrCreate() would return the same session and silently
    ignore its builder configs anyway."""
    import duckdb

    from operating_system_map_reduce_spark.sources.tables import load_table

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = load_table(spark, sf_dir, "events")
        got = {r["event_id"]: r["ts_us"]
               for r in ev.select("event_id", "ts_us").collect()}
        want = dict(duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{sf_dir}/events.parquet')").fetchall())
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
