"""Analytic query plans over the TPC-H-ish testdata.

These exercise the engine's declarative surface -- scan, filter,
projection, hash-aggregate, broadcast/shuffle join, window, rollup,
set ops -- the Spark-native generalization of the reference's scan and
fold operators (SURVEY.md section 2.5).

Scale notes (100 TB stance):
 - lineitem/orders are the fact tables: aggregations are expressed as
   groupBy so Catalyst plans partial (map-side) aggregation before the
   shuffle.  The driver collects only per-bin sums whose count is set
   by the value range, not the row count: ~150 bins in
   ``order_value_deciles`` (and docs/1024 buckets in
   ``textprep.pack_sequences``).
 - One-task final sort: a face whose result has a row count fixed by
   the schema -- a group-by on flags, statuses, priorities, nations,
   regions, segments, years or a constant number of buckets -- ends in
   ``.coalesce(1).orderBy(...)``.  The final aggregate's shuffle still
   spreads the groups' map-side partials; only the last stage runs as
   one task, and the sort needs no range-sampling job and no range
   exchange.  The bound is the domain: never per-user, per-key,
   per-order or per-document outputs, which grow with the data.
 - region/nation/customer/supplier/part are dims: joins against them
   broadcast (autoBroadcastJoinThreshold covers them at any SF where
   dims stay < tens of MB; at true TPC-H 100 TB, customer/part would
   shuffle-join and AQE handles it).
 - Every filter is on a scanned column so it pushes into the parquet
   reader (verify: .explain shows PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from operating_system_map_reduce_spark.sources.tables import load_table, source_stamp
from operating_system_map_reduce_spark.streaming import scratch_root


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- q1_pricing_summary: scan + filter + wide hash aggregate ---------------
# TPC-H Q1 adapted to the testdata's lineitem columns.  Map-side partial
# agg makes the shuffle carry one row per (returnflag, linestatus) per
# partition -- constant-size regardless of SF.

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .coalesce(1).orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice) AS sum_base_price,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       AVG(l_quantity) AS avg_qty,
       AVG(l_extendedprice) AS avg_price,
       AVG(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q3_shipping_priority: selective join chain + top-k --------------------
# customer(filter) -> orders -> lineitem; the orders-lineitem join
# shuffles on orderkey (their natural co-partition key -- at scale both
# sides would be bucketed by orderkey, making this join shuffle-free).
# No broadcast hint on customer: it grows with SF, so the choice
# belongs to AQE's runtime size estimate (it still broadcasts the
# filtered segment at small SF), not a hard-coded hint that becomes a
# driver OOM at 100 TB.

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- q5_region_revenue: 5-way star join --------------------------------
# region/nation broadcast (tiny); customer/supplier broadcast at these
# SFs; lineitem-orders shuffle on orderkey.  The n_nationkey equality
# between customer and supplier is the TPC-H Q5 "local supplier" trick.

def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # supplier/customer grow with SF -- no hard hints; AQE
        # broadcasts them while they fit and shuffles when they don't.
        # nation/region below keep theirs: 25/5 rows at every SF.
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .coalesce(1).orderBy(F.desc("revenue"), "r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY revenue DESC, r_name, n_name
"""


# --- top_customers_window: partitioned window rank ------------------------
# Rank customers by acctbal within nation.  One shuffle on the window
# partition key; rank is computed inside the sorted partition -- no
# global sort.

def top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal", "rnk")
        .orderBy("c_nationkey", "rnk")
    )


TOP_CUSTOMERS_SQL = """
SELECT c_nationkey, c_custkey, c_name, c_acctbal, rnk
FROM (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
) t
WHERE rnk <= 3
ORDER BY c_nationkey, rnk
"""


# --- orders_rollup: hierarchical aggregate (ROLLUP) -----------------------

def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .coalesce(1).orderBy("status", "priority")
    )


ORDERS_ROLLUP_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       SUM(o_totalprice) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# --- decile_distribution: ntile + distinct agg ----------------------------

def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile stats over order value, WITHOUT a global single-task sort.

    ``ntile(10) OVER (ORDER BY ...)`` puts every row through one window
    task -- a one-reducer bottleneck at 100x sf.  Equivalent distributed
    plan (bit-identical to the oracle's NTILE):

      1. Rows are binned by ``floor(log2(price) * 16)`` -- a PURE
         FUNCTION OF ROW VALUES needing NO statistics pass at all
         (the approxQuantile sketch + bucket-count jobs this replaces
         were 2/3 of the cold cost), deterministic across jobs --
         unlike spark_partition_id() after an exchange, which AQE may
         renumber between jobs -- and monotone in price, so bin order
         equals sort order and equal prices share a bin.  16 sub-bins
         per octave bound any one bin to the mass of a 4.4% value
         slice: window parallelism survives any price distribution
         short of a point mass (and bins only set parallelism, never
         correctness).
      2. Per-bin counts -- one codegen aggregate, ~150 scalars
         collected to the driver -- give each bin its cumulative rank
         offset.  The offsets go back into the plan as ONE parsed map
         literal read with ``element_at(map, bkt)``: the optimizer
         folds it into a constant, so no table is parallelized and no
         broadcast job runs.  (A map built from one ``F.lit`` per
         entry pays a py4j round trip for each.)
      3. global_rank = offset + row_number within bin (window
         partitioned by bin: no SinglePartition exchange anywhere).
      4. SQL NTILE's bucketing rule -- first n%k tiles get n/k+1 rows,
         the rest n/k -- folded into a CASE chain on the rank: pure
         map-side, whole-stage codegen, no join/division.
      5. The k decile rows finish in one task (``coalesce(1)`` before
         the final sort): no range-sampling job, no sort exchange.

    Cold cost: two passes over a 3-column pruned columnar scan
    (bin counts, ranked agg) -- measured 2.5 s -> ~0.8 s at sf0.1.
    """
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey", "o_custkey"
    )
    k = 10
    bkt = F.floor(F.log2(F.greatest(F.col("o_totalprice"), F.lit(1e-9))) * 16
                  ).cast("int")
    binned = orders.withColumn("bkt", bkt)
    cnts = {r["bkt"]: r["cnt"] for r in
            binned.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(cnts.values())  # total row count falls out of the bin counts
    offsets, acc = [], 0
    for b in sorted(cnts):
        offsets.append(f"{b}, {acc}L")
        acc += cnts[b]
    rank_offset = F.element_at(
        F.expr(f"map({', '.join(offsets) or '0, 0L'})"), F.col("bkt"))
    w = Window.partitionBy("bkt").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    big, small = divmod(n, k)  # first `small` tiles get big+1 rows
    rank = rank_offset + F.row_number().over(w)
    decile, hi = None, 0
    for d in range(1, k + 1):
        hi += big + 1 if d <= small else big
        cond = rank <= F.lit(hi)
        decile = F.when(cond, d) if decile is None else decile.when(cond, d)
    return (
        binned.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        )
        .coalesce(1).orderBy("decile")
    )


DECILES_SQL = """
SELECT decile, COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM (
  SELECT o_totalprice, o_custkey,
         NTILE(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
  FROM orders
) t
GROUP BY decile
ORDER BY decile
"""


# --- set ops: customers with orders vs without (anti/semi join) -----------

def customer_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        with_orders.select(F.col("c_mktsegment"), F.lit("with_orders").alias("bucket"))
        .unionAll(without.select(F.col("c_mktsegment"), F.lit("no_orders").alias("bucket")))
        .groupBy("c_mktsegment", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1).orderBy("c_mktsegment", "bucket")
    )


COVERAGE_SQL = """
WITH with_orders AS (
  SELECT c_mktsegment, 'with_orders' AS bucket FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)
), without_orders AS (
  SELECT c_mktsegment, 'no_orders' AS bucket FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
)
SELECT c_mktsegment, bucket, COUNT(*) AS n
FROM (SELECT * FROM with_orders UNION ALL SELECT * FROM without_orders) t
GROUP BY c_mktsegment, bucket
ORDER BY c_mktsegment, bucket
"""


# --- events_ohlc: time-series downsampling ---------------------------------
# The OLAP candlestick aggregate: per (hour bucket, event_type) the
# open/close (value at the first/last event) and high/low extremes.
# open/close are exact row SELECTIONS, not accumulations -- picked via
# a min/max over a (ts, event_id, value) struct (lexicographic; event_id
# is unique, so value never decides), which the oracle replays with
# ROW_NUMBER.  Scale shape: one hash-partial aggregate, shuffle on the
# (bucket, type) key -- cardinality ~ hours x types, never row count.

_OHLC_BUCKET_US = 3_600_000_000


def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wstart = (F.col("ts_us") - F.col("ts_us") % _OHLC_BUCKET_US)
    first_s = F.struct(F.col("ts_us").alias("t"), F.col("event_id").alias("e"),
                       F.col("value").alias("v"))
    return (
        ev.select(wstart.alias("window_start_us"), "event_type", "ts_us",
                  "event_id", "value")
        .groupBy("window_start_us", "event_type")
        .agg(
            F.min(first_s).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(first_s).getField("v").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("window_start_us", "event_type")
    )


EVENTS_OHLC_SQL = f"""
WITH e AS (
  SELECT (epoch_us(ts) // {_OHLC_BUCKET_US}) * {_OHLC_BUCKET_US} AS window_start_us,
         event_type, epoch_us(ts) AS ts_us, event_id, value
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY window_start_us, event_type
                            ORDER BY ts_us, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY window_start_us, event_type
                            ORDER BY ts_us DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT window_start_us, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM r GROUP BY window_start_us, event_type
ORDER BY window_start_us, event_type
"""


# --- events_funnel: ordered sequential-pattern matching --------------------
# The product-analytics funnel: users who viewed, then clicked AT OR
# AFTER their first view, then purchased at or after that first
# qualifying click.  Sequential dependence makes this a chain of
# stage-anchored joins (each stage joins the per-user anchor of the
# previous one; the fact table is scanned once per stage with the type
# filter pushed to parquet).  Anchors are |users|-sized -- they GROW
# with the corpus, so no hard broadcast hint: AQE broadcasts while
# they fit, else all three joins hash-shuffle on the same user_id key
# and reuse one partitioning.  avg lag is an exact integer sum / count.

def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts_us", "event_type")
    a = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts_us").alias("ta")))
    b = (ev.filter(F.col("event_type") == "click")
         .join(a, "user_id")
         .filter(F.col("ts_us") >= F.col("ta"))
         .groupBy("user_id")
         .agg(F.min("ts_us").alias("tb"), F.min("ta").alias("ta")))
    c = (ev.filter(F.col("event_type") == "purchase")
         .join(b, "user_id")
         .filter(F.col("ts_us") >= F.col("tb"))
         .groupBy("user_id")
         .agg(F.min("ts_us").alias("tc"), F.min("tb").alias("tb")))

    def stage(df, ord_, name, lag_col):
        lag = (F.round(F.avg(lag_col), 6) if lag_col is not None
               else F.lit(0.0))
        return df.agg(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
            F.coalesce(lag, F.lit(0.0)).alias("avg_lag_us"),
        )

    return (
        stage(a, 1, "view", None)
        .unionByName(stage(b, 2, "click", F.col("tb") - F.col("ta")))
        .unionByName(stage(c, 3, "purchase", F.col("tc") - F.col("tb")))
        .orderBy("stage_ord")
    )


EVENTS_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
), a AS (
  SELECT user_id, MIN(ts_us) AS ta FROM e WHERE event_type = 'view' GROUP BY user_id
), b AS (
  SELECT e.user_id, MIN(e.ts_us) AS tb, MIN(a.ta) AS ta
  FROM e JOIN a ON e.user_id = a.user_id AND e.ts_us >= a.ta
  WHERE e.event_type = 'click' GROUP BY e.user_id
), c AS (
  SELECT e.user_id, MIN(e.ts_us) AS tc, MIN(b.tb) AS tb
  FROM e JOIN b ON e.user_id = b.user_id AND e.ts_us >= b.tb
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage_ord, 'view' AS stage,
         COUNT(*) AS n_users, 0.0 AS avg_lag_us FROM a
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click', COUNT(*),
         COALESCE(ROUND(AVG(tb - ta), 6), 0.0) FROM b
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*),
         COALESCE(ROUND(AVG(tc - tb), 6), 0.0) FROM c
)
ORDER BY stage_ord
"""


# --- events_retention_cohorts: first-seen cohort grid ----------------------
# Cohort = the hour bucket of each user's FIRST event; retention cell
# (cohort, offset) = distinct users from that cohort active offset
# hours later (offsets 0..3).  Two aggregates: the per-user anchor
# (|users| rows, broadcast back), then the distinct-count grid whose
# cardinality is hours x 4 -- never row count.

_COHORT_BUCKET_US = 3_600_000_000


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts_us")
    anchors = (
        ev.groupBy("user_id")
        .agg(((F.min("ts_us") - F.min("ts_us") % _COHORT_BUCKET_US))
             .alias("cohort_us"))
    )
    offs = ((F.col("ts_us") - F.col("ts_us") % _COHORT_BUCKET_US)
            - F.col("cohort_us")) / _COHORT_BUCKET_US
    return (
        # anchors are |users|-sized (corpus-growing): no hard broadcast
        # hint; both sides key on user_id so the shuffle fallback
        # co-partitions with the anchor aggregate above
        ev.join(anchors, "user_id")
        .withColumn("offset_h", offs.cast("long"))
        .filter(F.col("offset_h").between(0, 3))
        .groupBy("cohort_us", "offset_h")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_us", "offset_h")
    )


EVENTS_RETENTION_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), anchors AS (
  SELECT user_id,
         (MIN(ts_us) // {_COHORT_BUCKET_US}) * {_COHORT_BUCKET_US} AS cohort_us
  FROM e GROUP BY user_id
)
SELECT cohort_us, offset_h, COUNT(DISTINCT user_id) AS n_users
FROM (
  SELECT e.user_id, a.cohort_us,
         ((e.ts_us // {_COHORT_BUCKET_US}) * {_COHORT_BUCKET_US} - a.cohort_us)
           // {_COHORT_BUCKET_US} AS offset_h
  FROM e JOIN anchors a ON e.user_id = a.user_id
)
WHERE offset_h BETWEEN 0 AND 3
GROUP BY cohort_us, offset_h
ORDER BY cohort_us, offset_h
"""


# --- events_cube_summary: CUBE grouping sets -------------------------------
# All four grouping combinations of (event_type, hour-of-day) in ONE
# aggregate: Catalyst expands CUBE to grouping sets and still plans a
# map-side partial agg, so the shuffle carries |types+1| x 25 rows per
# partition regardless of SF.  Subtotal rows are labeled ('ALL' / -1)
# via GROUPING() -- not COALESCE, which would conflate a genuine NULL
# event_type group with the grand total -- identically on both engines;
# hour-of-day stays integer arithmetic on ts_us, never a float division.

def events_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(ts_us div 3600000000) % 24").alias("hour_of_day"),
        "value",
    )
    return (
        ev.cube("event_type", "hour_of_day")
        # grouping() is only valid inside the cube's agg clause, so the
        # subtotal labels are computed here rather than in a later select
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"),
             F.grouping("event_type").alias("_g_type"),
             F.grouping("hour_of_day").alias("_g_hour"))
        .select(
            F.when(F.col("_g_type") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type")).alias("event_type"),
            F.when(F.col("_g_hour") == 1, F.lit(-1))
            .otherwise(F.col("hour_of_day")).alias("hour_of_day"),
            "n_events", "sum_value",
        )
        .orderBy("event_type", "hour_of_day")
    )


EVENTS_CUBE_SQL = """
SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END
         AS event_type,
       CASE WHEN GROUPING(hour_of_day) = 1 THEN -1 ELSE hour_of_day END
         AS hour_of_day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour_of_day, value
  FROM events
)
GROUP BY CUBE (event_type, hour_of_day)
ORDER BY event_type, hour_of_day
"""


# --- events_type_pivot: long-to-wide reshaping -----------------------------
# Per-user event-type count matrix via the pivot operator.  The pivot
# VALUES are pinned (the five known types) so the output schema is
# static -- at scale an unpinned pivot would force an extra distinct
# scan AND make the schema data-dependent; pinning is the production
# pattern.  Plans as one hash aggregate with |types| conditional counts
# -- the shuffle carries |users| rows of 5 longs.

_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_TYPES)
        .withColumn("total",
                    sum(F.col(t) for t in _PIVOT_TYPES).cast("long"))
        .orderBy("user_id")
    )


# total = sum of the PINNED types (not COUNT(*)): if a future testdata
# generation introduces a sixth event type, both engines still census
# the same five columns instead of silently diverging on the total.
EVENTS_PIVOT_SQL = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       COUNT(CASE WHEN event_type IN ('click','error','purchase','signup','view')
             THEN 1 END) AS total
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- q6_forecast_revenue: the pure pushdown showcase -----------------------
# TPC-H Q6: one scan, three pushed filters, one global aggregate --
# zero joins, zero window.  The entire plan under whole-stage codegen;
# at 100 TB the parquet reader prunes both row groups (min/max on
# shipdate/discount/quantity) and all but three columns.

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount").between(0.03, 0.05))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6)
            .alias("revenue"),
        )
    )


Q6_SQL = """
SELECT COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice * l_discount), 6) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


# --- orders_customer_reconcile: FULL OUTER join census ---------------------
# The reconciliation face: full outer join orders-to-customer and
# census each segment's matched / customer-only rows plus any orphan
# orders (null segment -> 'UNKNOWN').  Outer joins cannot broadcast
# the preserved side, so this plans as a shuffle join on the key both
# tables would be co-bucketed on at scale (bucketed_segment_revenue
# shows that at-rest layout deleting this exchange).

def orders_customer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey, "full_outer")
    return (
        j.groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1))
            .alias("n_customers_without_orders"),
            F.count_distinct(F.col("c_custkey")).alias("n_customers"),
        )
        .coalesce(1).orderBy("segment")
    )


RECONCILE_SQL = """
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(o_orderkey) AS n_orders,
       COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END)
         AS n_customers_without_orders,
       COUNT(DISTINCT c_custkey) AS n_customers
FROM orders FULL OUTER JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
"""


# --- events_sessionize: gaps-and-islands via lag window -------------------
# Sessionization: a new session starts after a >30 min gap.  The lag and
# the running session-id sum both run inside the per-user sorted window;
# one shuffle on user_id total.

def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag(F.col("ts_us")).over(w) > 1_800_000_000, 1
        ).otherwise(0).cast("long"),
    )
    with_sess = with_gap.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("session_value").alias("total_value"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM gaps
), per_session AS (
  SELECT user_id, session_no, COUNT(*) AS n_events, SUM(value) AS session_value
  FROM sess GROUP BY user_id, session_no
)
SELECT user_id, COUNT(*) AS n_sessions,
       MAX(n_events) AS max_session_events,
       SUM(session_value) AS total_value
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


# --- events_json_extract: semi-structured extraction ----------------------

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- asof_click_attribution: backward as-of join ---------------------------
# For every purchase event, the most recent click by the same user at
# or before the purchase (classic attribution).  Spark side runs the
# union-marker as-of operator: ONE shuffle on user_id, no range join.
# Purchases with no prior click keep null click columns (outer as-of).

def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", F.col("ts_us").alias("purchase_ts_us")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts_us").alias("click_ts_us")))
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="purchase_ts_us", right_ts="click_ts_us",
                    right_cols=["click_id", "click_ts_us"], tie_col="click_id")
    return (out.withColumn("gap_us", F.col("purchase_ts_us") - F.col("click_ts_us"))
            .select("event_id", "user_id", "purchase_ts_us",
                    "click_id", "click_ts_us", "gap_us")
            .orderBy("event_id"))


ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS purchase_ts_us
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_ts_us
  FROM events WHERE event_type = 'click'
), ranked AS (
  SELECT p.event_id, p.user_id, p.purchase_ts_us, c.click_id, c.click_ts_us,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.click_ts_us DESC, c.click_id DESC) AS rn
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id AND c.click_ts_us <= p.purchase_ts_us
)
SELECT p.event_id, p.user_id, p.purchase_ts_us,
       r.click_id, r.click_ts_us,
       p.purchase_ts_us - r.click_ts_us AS gap_us
FROM purchases p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
  ON p.event_id = r.event_id
ORDER BY p.event_id
"""


# --- range_join_prior_activity: binned range join --------------------------
# Per purchase: how many click/view events the same user produced in
# the 10 minutes up to the purchase (inclusive).  The range predicate
# becomes a (user_id, time-bucket) equi-join; bucket width == window
# width so each interval explodes to at most 2 buckets.

def range_join_prior_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.temporal import range_join_binned

    window_us = 600_000_000  # 10 min
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id",
                         (F.col("ts_us") - window_us).alias("win_start_us"),
                         F.col("ts_us").alias("win_end_us")))
    activity = (ev.filter(F.col("event_type").isin("click", "view"))
                .select(F.col("event_id").alias("act_id"), "user_id",
                        F.col("ts_us").alias("act_ts_us")))
    matched = range_join_binned(activity, purchases, key="user_id",
                                point_ts="act_ts_us",
                                start_col="win_start_us", end_col="win_end_us",
                                bucket_width=window_us)
    counts = matched.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_prior"))
    return (purchases.join(counts, "event_id", "left")
            .select("event_id", "user_id",
                    F.coalesce("n_prior", F.lit(0)).alias("n_prior"))
            .orderBy("event_id"))


RANGE_JOIN_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) - 600000000 AS win_start_us,
         epoch_us(ts) AS win_end_us
  FROM events WHERE event_type = 'purchase'
), activity AS (
  SELECT user_id, epoch_us(ts) AS act_ts_us
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT p.event_id, p.user_id,
       (SELECT COUNT(*) FROM activity a
        WHERE a.user_id = p.user_id
          AND a.act_ts_us BETWEEN p.win_start_us AND p.win_end_us) AS n_prior
FROM purchases p
ORDER BY p.event_id
"""


# --- q4_order_priority: conditional EXISTS semi-join -----------------------
# TPC-H Q4 shape on our columns: orders having at least one late-shipped
# line (l_shipdate > o_orderdate + 60 days).  left_semi keeps the probe
# side un-duplicated, so the aggregate never double-counts and the
# shuffle carries orderkeys only.

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .coalesce(1).orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- inactive_customers_by_nation: anti-join -------------------------------
# REG's duplicate-check is an anti-join in the reference (SURVEY.md
# section 2.5); here it generalizes to "customers with no orders".

def inactive_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    nation = _t(spark, sf_dir, "nation")
    inactive = cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (
        inactive.join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_inactive"),
             F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"))
        .coalesce(1).orderBy("n_name")
    )


INACTIVE_SQL = """
SELECT n_name, COUNT(*) AS n_inactive,
       ROUND(AVG(c_acctbal), 2) AS avg_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n_name
ORDER BY n_name
"""


# --- brand_supplier_breadth: distinct aggregation --------------------------
# TPC-H Q16 shape: distinct supplier count per brand/size bucket.
# count(DISTINCT) plans as a two-stage aggregate (dedup shuffle on
# (group, suppkey), then count) -- no driver-side set-building.

def brand_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("p_size") <= 25)
        .groupBy("p_brand", (F.col("p_size") % 5).alias("size_mod"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"),
             F.count(F.lit(1)).alias("line_cnt"))
        .orderBy("p_brand", "size_mod")
    )


BRAND_BREADTH_SQL = """
SELECT p_brand, p_size % 5 AS size_mod,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt,
       COUNT(*) AS line_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
GROUP BY p_brand, p_size % 5
ORDER BY p_brand, size_mod
"""


# --- skew_salted_distinct: hot-key COUNT(DISTINCT) via salting -------------
# l_returnflag has 3 values over all of lineitem -- the textbook hot
# key.  A plain count-distinct funnels every (flag, suppkey) pair into
# 3 reducers; the salted operator shards the dedup across 16 reducers
# per flag and sums exact disjoint partials (operators/skew.py).  The
# oracle is the plain COUNT(DISTINCT): results must be identical.

def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.skew import salted_agg_distinct

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey")
    return (salted_agg_distinct(li, "l_returnflag", "l_suppkey", n_salts=16)
            .withColumnRenamed("n_distinct", "n_suppliers")
            .coalesce(1).orderBy("l_returnflag"))


SKEW_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- skew_salted_join: hot-key-proof equi-join, result-identical ------------
# operators/skew.salted_join under the gate: the build side (customer
# dim) explodes across n_salts shards and the probe side (events, the
# side a hot user would skew) picks its shard by row hash, so one hot
# key's rows spread over n_salts reducers instead of one straggler
# task.  The salt is an IMPLEMENTATION detail -- the oracle is the
# plain unsalted join, so the gate proves the salted plan changes the
# shuffle shape and nothing else.  Output: per (mktsegment, event_type)
# census of customer-attributable events.

def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    return (
        salted_join(ev, cust, "user_id", n_salts=8)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .coalesce(1).orderBy("c_mktsegment", "event_type")
    )


SKEW_JOIN_SQL = """
SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type
"""


# --- repeat_buyer_setops: INTERSECT / EXCEPT over yearly cohorts -----------

def repeat_buyer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return (orders.filter(F.year("o_orderdate") == year)
                .select("o_custkey").distinct())

    # bought in both 1996 and 1997, but not in 1998
    steady = buyers(1996).intersect(buyers(1997)).exceptAll(buyers(1998))
    cust = _t(spark, sf_dir, "customer")
    return (
        steady.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .coalesce(1).orderBy("c_mktsegment")
    )


SETOPS_SQL = """
WITH steady AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
)
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM steady JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- nation_rolling_revenue: moving-frame + ratio-to-report windows --------
# Three window faces the surface lacked in one series query: a 3-month
# moving average (ROWS moving frame), a cumulative running total, and a
# ratio-to-report share (revenue / month total across nations).  Shape:
# fact scan joins two dims (nation hint-broadcast at 25 rows; supplier
# unhinted -- it grows with SF, AQE decides), one hash aggregate down
# to |nations| x |months| rows, then ALL windows run over the
# aggregate: the window exchanges move ~2k rows, never lineitem.
# No rounding anywhere: monthly sums carry sub-ulp summation-order
# noise between engines, and ROUND(x, 2) on cent-aligned money AMPLIFIES
# an ulp to 0.01 at .xx5 boundaries (measured: 2 of ~2k rows flipped).
# Raw doubles compare clean under the driver's relative tolerance, the
# same discipline as q1's unrounded sums.

def nation_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(F.sum("rev").alias("revenue"))
    )
    w_nat = Window.partitionBy("nation").orderBy("month")
    w_ma = w_nat.rowsBetween(-2, 0)
    w_cum = w_nat.rowsBetween(Window.unboundedPreceding, 0)
    w_month = Window.partitionBy("month")
    return (
        monthly.select(
            "nation", "month", "revenue",
            F.avg("revenue").over(w_ma).alias("ma3"),
            F.sum("revenue").over(w_cum).alias("cum_revenue"),
            (F.col("revenue") / F.sum("revenue").over(w_month))
            .alias("month_share"),
        )
        .orderBy("nation", "month")
    )


NATION_ROLLING_SQL = """
WITH monthly AS (
  SELECT n.n_name AS nation, strftime(l.l_shipdate, '%Y-%m') AS month,
         SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, month, revenue,
       AVG(revenue) OVER (PARTITION BY nation ORDER BY month
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
       SUM(revenue) OVER (PARTITION BY nation ORDER BY month
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cum_revenue,
       revenue / SUM(revenue) OVER (PARTITION BY month) AS month_share
FROM monthly
ORDER BY nation, month
"""


# --- supplier_brand_division: relational division --------------------------
# The "FOR ALL" operator face: which suppliers ship EVERY brand in the
# catalog (restricted to bulk lines, l_quantity >= 45, so coverage is
# non-trivial)?  Division compiles to count-distinct-equals-divisor --
# never a per-element anti-join loop: one distinct on (supplier,
# brand) pairs, one count-distinct per supplier, compared against the
# 1-row divisor total (hint-broadcast, provably 1 row).  Output is the
# per-nation coverage census so the result is informative at every SF
# (full-coverage suppliers: 0 at sf0.001, 24 at sf0.01, 216 at sf0.1).

def supplier_brand_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_quantity") >= 45)
          .select("l_suppkey", "l_partkey"))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nb = part.agg(F.count_distinct("p_brand").alias("nb"))
    cov = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", "p_brand").distinct()
        .groupBy("l_suppkey")
        .agg(F.count_distinct("p_brand").alias("n_brands"))
    )
    per_sup = (
        sup.join(cov, F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .na.fill(0, ["n_brands"])
        .crossJoin(F.broadcast(nb))
    )
    return (
        per_sup.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.count(F.when(F.col("n_brands") > 0, 1)).alias("n_active"),
            F.count(F.when(F.col("n_brands") == F.col("nb"), 1))
            .alias("n_full_coverage"),
            F.max("n_brands").alias("max_brands"),
        )
        .coalesce(1).orderBy("s_nationkey")
    )


SUPPLIER_DIVISION_SQL = """
WITH nb AS (
  SELECT COUNT(DISTINCT p_brand) AS nb FROM part
), cov AS (
  SELECT l_suppkey, COUNT(DISTINCT p_brand) AS n_brands
  FROM (
    SELECT DISTINCT l.l_suppkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity >= 45
  ) GROUP BY l_suppkey
), per_sup AS (
  SELECT s.s_nationkey, COALESCE(c.n_brands, 0) AS n_brands, nb.nb
  FROM supplier s LEFT JOIN cov c ON s.s_suppkey = c.l_suppkey
  CROSS JOIN nb
)
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       COUNT(CASE WHEN n_brands > 0 THEN 1 END) AS n_active,
       COUNT(CASE WHEN n_brands = nb THEN 1 END) AS n_full_coverage,
       MAX(n_brands) AS max_brands
FROM per_sup
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


# --- orders_above_customer_avg: correlated-subquery face --------------------
# "Orders above their own customer's average" -- the classic correlated
# scalar subquery, compiled as a window aggregate (one shuffle on
# custkey, the subquery never re-executes per row).  The comparison uses
# an epsilon margin (price - avg > 1e-6), identical in both engines:
# prices are cent-aligned, so a TRUE above-average gap is at least
# 1/(100*count) ~ 2e-4, while cross-engine summation-order noise in the
# average is ~1e-9 -- the margin separates them cleanly.  (Rounding both
# sides, the previous spelling, cannot: an ulp landing on a .xxxxxx5
# boundary still flips the rounded value and hence an integer count.)

def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey")
    flagged = orders.withColumn(
        "above",
        F.col("o_totalprice") - F.avg("o_totalprice").over(w) > F.lit(1e-6))
    return (
        flagged.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("above"), 1)).alias("n_above_avg"),
            F.round(
                F.count(F.when(F.col("above"), 1))
                / F.count(F.lit(1)).cast("double"), 6).alias("above_share"),
        )
        .coalesce(1).orderBy("c_mktsegment")
    )


ORDERS_ABOVE_AVG_SQL = """
WITH flagged AS (
  SELECT o_custkey,
         o_totalprice -
           AVG(o_totalprice) OVER (PARTITION BY o_custkey) > 1e-6 AS above
  FROM orders
)
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN above THEN 1 END) AS n_above_avg,
       ROUND(COUNT(CASE WHEN above THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS above_share
FROM flagged JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- orders_grouping_sets: explicit GROUPING SETS ---------------------------
# The third member of the grouping trio (ROLLUP and CUBE are covered by
# orders_rollup / events_cube_summary): DISJOINT grouping sets --
# per-status totals, per-priority totals, and the grand total -- in ONE
# aggregate pass.  Catalyst expands to a single Expand + hash aggregate
# (3 rows per input row, map-side partials), versus three scans for the
# UNION ALL spelling.  Subtotal rows are labeled via GROUPING(), never
# NULL-conflating COALESCE; the revenue sum stays UNROUNDED (2-decimal
# rounding of cent-aligned money amplifies cross-engine summation ulps
# at .xx5 boundaries -- the nation_rolling_revenue lesson).  Expressed through spark.sql with a
# DataFrame arg (the declarative SQL surface of the same engine).

def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                    ELSE o_orderstatus END AS status,
               CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                    ELSE o_orderpriority END AS priority,
               COUNT(*) AS n_orders,
               SUM(o_totalprice) AS revenue
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """,
        o=orders)


ORDERS_GROUPING_SETS_SQL = """
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
            ELSE o_orderstatus END AS status,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
            ELSE o_orderpriority END AS priority,
       COUNT(*) AS n_orders,
       SUM(o_totalprice) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
"""


# --- bucketed co-located join: the at-rest partitioning story -------------
# The reference places every key into its hash bucket ONCE at insert
# time (p2/server/concurrenthashmap.h) and all later ops are
# shuffle-free.  Spark's at-rest analog is bucketBy: write orders and
# customer hash-bucketed on custkey once, and every subsequent join on
# that key plans with NO exchange on either side -- at 100 TB this
# deletes the dominant stage of every repeated fact-fact join.  The
# query writes the bucketed copies once per (session, sf) and then runs
# a shuffle-free SortMergeJoin; tests/test_plans.py asserts the only
# exchanges left are the post-join aggregate's.
#
# Every at-rest table lives in the database AT_REST_DB, located in this
# process's scratch root (streaming.scratch_root(): one mkdtemp per
# process, removed at exit).  No other process can reach its files, and
# they go with the process.

AT_REST_DB = "kvmr_at_rest"


def _at_rest_dir() -> str:
    return os.path.join(scratch_root(), "at_rest")


# Intra-process write serialization: two threads or two same-process
# sessions sharing the catalog could both pass tableExists, both rmtree
# the leftover, and run overwrite saveAsTable on the same directory
# concurrently.  One lock PER TABLE NAME so concurrent builds of
# different tables still parallelize.
import threading as _threading

_TABLE_LOCKS: dict = {}
_TABLE_LOCKS_GUARD = _threading.Lock()


def _table_lock(table: str) -> "_threading.Lock":
    with _TABLE_LOCKS_GUARD:
        return _TABLE_LOCKS.setdefault(table, _threading.Lock())


def bucketed_table_name(prefix: str, sf_dir: str, *sources: str) -> str:
    """Catalog name of a write-once bucketed copy of ``sources``:
    ``kvmr_at_rest.{prefix}_{sf tag}_{source stamp}``.

    The stamp tag invalidates the table when testdata is regenerated
    in place: a live session must not serve stale buckets while the
    DuckDB oracle reads fresh parquet."""
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    return f"{AT_REST_DB}.{prefix}_{tag}_{source_stamp(sf_dir, *sources)}"


def _ensure_bucketed(spark: SparkSession, table: str, df, key: str,
                     n_buckets: int = 16) -> None:
    """Write ``df`` as the bucketed table ``table`` (a
    bucketed_table_name) unless the catalog already has it.

    The catalog is in memory: a session restarted in this process
    forgets the database and its tables, while their directories stay
    in the scratch root.  So the database is created with IF NOT
    EXISTS, and this table's leftover directory is removed before the
    write (saveAsTable refuses an existing location)."""
    import shutil

    from operating_system_map_reduce_spark.sources.bucketing import write_bucketed

    with _table_lock(table):
        if spark.catalog.tableExists(table):
            return
        root = _at_rest_dir()
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {AT_REST_DB} LOCATION '{root}'")
        leftover = os.path.join(root, table.split(".", 1)[1].lower())
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)
        # one_file_per_bucket: measured a strict win for
        # the at-rest builds — ~2x faster write (one file commit per
        # bucket) and ~9% faster downstream reads; the query plans are
        # bit-identical in shape (sorts/exchanges unchanged — Spark
        # never used sortBy metadata for sort elision anyway), so the
        # consumers' green rows still vouch for their plans.
        write_bucketed(df, table, key, n_buckets=n_buckets,
                       one_file_per_bucket=True)


def at_rest_table(spark: SparkSession, sf_dir: str, prefix: str, key: str,
                  build, n_buckets: int = 16,
                  source: str = "documents.parquet") -> DataFrame:
    """Write-once bucketed table of ``source``: the name carries its
    stamp (bucketed_table_name), so in-place testdata regeneration gets
    a new table, and ``build()`` -- called only when the table is
    absent -- streams straight into the write job with nothing
    persisted.  The table lives in this process's scratch root
    (_ensure_bucketed)."""
    table = bucketed_table_name(prefix, sf_dir, source)
    if not spark.catalog.tableExists(table):
        _ensure_bucketed(spark, table, build(), key, n_buckets)
    return spark.table(table)


def bucketed_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders = bucketed_table_name("b_orders", sf_dir, "orders.parquet",
                                   "customer.parquet")
    t_cust = bucketed_table_name("b_customer", sf_dir, "orders.parquet",
                                 "customer.parquet")
    _ensure_bucketed(spark, t_orders,
                     _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
                     "o_custkey")
    _ensure_bucketed(spark, t_cust,
                     _t(spark, sf_dir, "customer")
                     .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
                     "o_custkey")
    joined = spark.table(t_orders).join(spark.table(t_cust), "o_custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        )
        .coalesce(1).orderBy("c_mktsegment")
    )


BUCKETED_SEGMENT_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- z-order clustering: multi-dimensional data-skipping layout ----------
# Storage-layout operator (operators/zorder.py): bucketize (o_custkey,
# o_totalprice) onto 2^16 grids and interleave to a Morton code; a writer
# that repartitionByRange + sortWithinPartitions on it gives every output
# file a tight min/max envelope in BOTH dimensions.  THIS query grades the
# layout itself:
# per z-block (top 7 Morton bits = 128 blocks) it reports the row count
# and both dimensions' envelopes; the oracle replays the identical
# integer interleave, so the driver hash-checks bit-for-bit.  Grid
# bounds are exact table min/max (the catalog statistic a lakehouse
# keeps; one cheap codegen aggregate here), computed identically by the
# oracle's stats subquery.

_Z_BITS = 16
_Z_BLOCK_SHIFT = 2 * _Z_BITS - 7  # keep the top 7 bits -> 128 blocks


def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators import zorder as _z

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    st = orders.agg(
        F.min("o_custkey").alias("lo_c"), F.max("o_custkey").alias("hi_c"),
        F.min("o_totalprice").alias("lo_p"), F.max("o_totalprice").alias("hi_p"),
    ).collect()[0]
    ga = _z.grid_expr(F.col("o_custkey").cast("double"),
                      float(st["lo_c"]), float(st["hi_c"]), _Z_BITS)
    gb = _z.grid_expr(F.col("o_totalprice"), st["lo_p"], st["hi_p"], _Z_BITS)
    z = _z.interleave_expr(ga, gb, _Z_BITS)
    return (
        orders.withColumn("zblock", F.shiftrightunsigned(z, _Z_BLOCK_SHIFT))
        .groupBy("zblock")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .coalesce(1).orderBy("zblock")
    )


def _zorder_sql() -> str:
    from operating_system_map_reduce_spark.operators import zorder as _z

    cells = 1 << _Z_BITS
    grid = (
        "GREATEST(0, LEAST({cells_m1}, CAST(FLOOR((CAST({col} AS DOUBLE) - {lo})"
        " / (CASE WHEN {hi} = {lo} THEN 1.0"
        " ELSE ({hi} - {lo}) / {cells}.0 END)) AS BIGINT)))"
    )
    ga = grid.format(col="o_custkey", lo="st.lo_c", hi="st.hi_c",
                     cells=cells, cells_m1=cells - 1)
    gb = grid.format(col="o_totalprice", lo="st.lo_p", hi="st.hi_p",
                     cells=cells, cells_m1=cells - 1)
    return f"""
WITH st AS (
  SELECT CAST(MIN(o_custkey) AS DOUBLE) AS lo_c, CAST(MAX(o_custkey) AS DOUBLE) AS hi_c,
         MIN(o_totalprice) AS lo_p, MAX(o_totalprice) AS hi_p
  FROM orders
), g AS (
  SELECT o_custkey, o_totalprice, {ga} AS ga, {gb} AS gb
  FROM orders CROSS JOIN st
)
SELECT {_z.interleave_sql('ga', 'gb', _Z_BITS)} // {1 << _Z_BLOCK_SHIFT} AS zblock,
       COUNT(*) AS n_rows,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM g GROUP BY 1 ORDER BY 1
"""


ZORDER_STATS_SQL = _zorder_sql()


# --- q19_disjunctive_revenue: OR-of-ANDs predicate pushdown face ------------
# TPC-H Q19's plan story adapted to this dataset's columns (the
# testdata part table carries no container/shipmode, so the disjuncts
# range over brand x size x quantity): revenue from lineitem x part
# under a DISJUNCTION of conjunctive band predicates.  What the plan
# must do -- and tests/test_plans.py asserts -- is split the OR: the
# part-only prefix of each disjunct (brand, size) pushes into the part
# SCAN as (b1 AND s1) OR (b2 AND s2) OR ..., so the join build side is
# pre-filtered even though no single conjunct applies to every row;
# the mixed part x lineitem residual evaluates post-join in codegen.
# Catalyst does this via BooleanSimplification + the CNF pushdown rule
# -- free when the predicate is declared, impossible when a UDF hides
# it.  Grouped by brand so the gate hashes one row per disjunct family.

_Q19_BANDS = [
    ("Brand#11", 1, 10, 1, 20),
    ("Brand#22", 1, 20, 10, 30),
    ("Brand#33", 1, 30, 20, 40),
]


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    pred = None
    for brand, s_lo, s_hi, q_lo, q_hi in _Q19_BANDS:
        d = ((F.col("p_brand") == brand)
             & F.col("p_size").between(s_lo, s_hi)
             & F.col("l_quantity").between(q_lo, q_hi))
        pred = d if pred is None else (pred | d)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # ROUND(...,6) on the visible sum (repo float discipline):
            # the summands are 4-decimal-aligned, so the 6th-decimal
            # half-boundary sits >= 5e-6 from any true value -- far
            # beyond cross-engine summation-order ulp noise
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6).alias("revenue"),
        )
        .orderBy("p_brand")
    )


Q19_SQL = """
SELECT p_brand, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 40)
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q18_large_orders: semi-join against an aggregated subquery -------------
# TPC-H Q18 (large-volume customers): orders whose TOTAL line quantity
# exceeds the threshold, joined back to customer detail.  The plan
# story is the IN-subquery-over-an-aggregate: one hash aggregate over
# lineitem builds the qualifying-order set, which semi-joins the fact
# tables -- never a correlated re-execution.  Spark expresses it as an
# aggregate + inner join on the 874-row (sf0.01) qualifier; the
# qty re-aggregation rides the same join.  Threshold 200 keeps the
# result customer-page sized at every gate SF.

_Q18_MIN_QTY = 200


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > _Q18_MIN_QTY))
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_MIN_QTY}
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
"""


# --- q7_nation_volume: dual-nation shipping volume (TPC-H Q7) --------------
# Revenue shipped between NATION_1 and NATION_2 (both directions) by
# (supplier nation, customer nation, ship year).  Plan quality face:
# the nation-pair predicate is applied to the DIM SIDES before any
# fact join -- customer and supplier shrink to two nations' rows ahead
# of the shuffle, so the fact tables join against pre-filtered sides
# instead of filtering post-join (a post-join filter would shuffle
# ~96% dead rows).  nation is constant (25 rows) and keeps its
# broadcast; supplier/customer strategy is AQE's.  The reference's
# engine would express this as chained scan+fold passes (SURVEY.md
# section 2.5); Spark states the join graph and Catalyst orders it.

_Q7_NATIONS = ("NATION_1", "NATION_2")


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q7_NATIONS))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .coalesce(1).orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 6) AS revenue, COUNT(*) AS n_items
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE sn.n_name IN {_Q7_NATIONS} AND cn.n_name IN {_Q7_NATIONS}
    AND sn.n_name <> cn.n_name
    AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- q8_market_share: conditional-share ratio (TPC-H Q8) -------------------
# Of all PROMO-part revenue sold to EUROPE customers per order year,
# the share supplied by NATION_3.  Plan quality face: the share is ONE
# aggregate with a conditional numerator (sum(when)/sum) -- a naive
# translation computes two aggregates and joins them, doubling the
# fact scan.  part(PROMO) filters before the fact join; region/nation
# stay broadcast; the supplier-nation flag is resolved pre-aggregation
# so the group-by carries (year) only.

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nat = (nation
                .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
                .select(F.col("n_nationkey").alias("cn_key")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(cust_nat), F.col("c_nationkey") == F.col("cn_key"))
            .select("c_custkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", (F.col("n_name") == "NATION_3").alias("is_target")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        # RAW ratio, not ROUND(.,6): a ratio of float sums carries
        # ~1e-9 relative summation noise, and rounding flips discretely
        # at a half-boundary while the compare's relative tolerance
        # absorbs raw noise (same rule as raw sums).
        .agg((F.sum(F.when(F.col("is_target"), vol).otherwise(F.lit(0.0)))
              / F.sum(vol)).alias("mkt_share"),
             F.count(F.lit(1)).alias("n_items"))
        .coalesce(1).orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN l_extendedprice * (1 - l_discount)
                ELSE 0.0 END)
       / SUM(l_extendedprice * (1 - l_discount)) AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
GROUP BY o_year
ORDER BY o_year
"""


# --- q10_returned_items: top-k revenue-at-risk customers (TPC-H Q10) -------
# Customers ranked by revenue on RETURNED items for one order quarter.
# Plan quality face: both selective predicates push into their own
# scans (o_orderdate range -> orders, l_returnflag = 'R' -> lineitem)
# BEFORE the orderkey join, and the top-20 plans as
# TakeOrderedAndProject (per-partition heaps + driver merge of 20-row
# partials), never a global sort of the aggregate.

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q14_promo_revenue: single-pass conditional ratio (TPC-H Q14) ----------
# PROMO-part share of one ship month's revenue.  The selective range
# predicate pushes into the lineitem scan, the p_type flag rides the
# partkey join as a boolean projection, and the ratio is a single
# aggregate -- numerator and denominator in the same map-side partial,
# one fact scan total.

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01")))
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        # RAW ratio, not ROUND(.,6) -- see q8_market_share's note
        # (rounding a float-sum ratio can flip a half-boundary; the raw
        # value rides the compare tolerance).
        .agg((F.lit(100.0)
              * F.sum(F.when(F.col("is_promo"), vol).otherwise(F.lit(0.0)))
              / F.sum(vol)).alias("promo_pct"),
             F.count(F.lit(1)).cast("long").alias("n_items"))
    )


Q14_SQL = """
SELECT 100.0 * SUM(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount)
                        ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)) AS promo_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
"""


# --- q17_small_quantity: correlated-avg revenue loss (TPC-H Q17) -----------
# Average yearly revenue lost if small-quantity orders (below 50% of
# the part's average quantity) were not taken, for one brand.  Plan
# quality face: the correlated scalar subquery (avg per part) is
# DECORRELATED into a window keyed on partkey -- ONE scan of the
# brand's lineitems and one shuffle, vs the aggregate-then-self-join
# form (two fact scans) or a correlated re-execution per row (a
# rescan per part).  The window partitions by l_partkey, so no global
# sort and no single-partition funnel.

def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#22") \
        .select("p_partkey")
    li = (_t(spark, sf_dir, "lineitem")
          .join(part, F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    half_avg = (F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
                * 0.5)
    return (
        li.withColumn("half_avg_qty", half_avg)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
             F.count(F.lit(1)).cast("long").alias("n_small"))
    )


Q17_SQL = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#22'
), avg_qty AS (
  SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
  FROM brand_li GROUP BY l_partkey
)
SELECT ROUND(SUM(l_extendedprice) / 7.0, 6) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM brand_li JOIN avg_qty USING (l_partkey)
WHERE l_quantity < half_avg_qty
"""


# --- q22_dormant_value: anti-join + scalar subquery (TPC-H Q22 adapted) ----
# High-balance customers (above the global average POSITIVE balance)
# with no orders since 1999, by nation.  The testdata has no phone
# country codes, so the Q22 cntrycode grouping becomes the nation dim.
# Plan quality face: the global average is a 1-row aggregate attached
# via broadcast (constant side -- the documented BNLJ_CONSTANT_SIDE
# pattern), and NOT EXISTS(orders) plans as a LEFT ANTI join on
# custkey -- never a per-row subquery probe.  The anti-join's build
# side is pre-filtered to the date range, so its hash table holds only
# recent buyers.

def q22_dormant_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0) \
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_custs"),
             F.round(F.sum("c_acctbal"), 6).alias("total_bal"))
        .coalesce(1).orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name, COUNT(*) AS n_custs, ROUND(SUM(c_acctbal), 6) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= '1999-01-01')
GROUP BY n_name
ORDER BY n_name
"""


# --- q2_min_cost_supplier: decorrelated correlated-MIN (TPC-H Q2) ----------
# For each STANDARD small-size part, the supplier(s) offering it at the
# minimum observed unit cost (the testdata has no partsupp, so the
# supply relation is derived from lineitem: unit cost = extendedprice /
# quantity, MIN'd per (part, supplier)).  Plan quality face: Q2's
# textbook form is a correlated `= (SELECT MIN(..) .. WHERE partkey =
# outer.partkey)` scalar subquery; a naive translation scans the supply
# relation once per outer row.  Here it decorrelates to a window MIN
# over p_partkey on ONE aggregated supply frame: the part filter cuts
# the fact scan BEFORE the (part, supplier) aggregate, the aggregate
# shuffles once on (l_partkey, l_suppkey) with map-side partial MIN,
# and the window's l_partkey exchange re-partitions the already
# aggregated ~|part x supplier| frame -- never the fact scan -- so the
# fact table is read and shuffled exactly once at any SF.  (Forcing the
# aggregate onto the window's single-key partitioning would merge the
# two exchanges but forfeit the map-side combine on the full join
# output -- the wrong trade at 100 TB.)  Equality against the window
# MIN is IEEE-exact: both sides are the same double from the same rows.

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("uc"))
    # part shrinks with the filter but still grows with SF: no hard
    # broadcast hint -- AQE picks the strategy from the runtime size
    supply = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("uc").alias("unit_cost"))
    )
    best = supply.withColumn(
        "best_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey")))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        best.filter(F.col("unit_cost") == F.col("best_cost"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name",
                F.col("l_partkey").alias("p_partkey"),
                F.round("unit_cost", 6).alias("unit_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem JOIN part ON l_partkey = p_partkey
   AND p_type = 'STANDARD' AND p_size <= 15
  GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT *, MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost FROM supply
)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
       ROUND(unit_cost, 6) AS unit_cost
FROM best JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE unit_cost = best_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


# --- q9_product_profit: multi-dim star join, derived measure (TPC-H Q9) ----
# Profit per supplier nation per ship year over one part family.  The
# testdata has no partsupp, so supply cost is surrogated from the part
# dim (0.6 * p_retailprice per unit).  Plan quality face: the profit
# expression mixes columns of three tables but is resolved BEFORE the
# aggregate, so the group-by shuffle carries (nation, year, partial
# sums) only; the name-pattern filter prunes part before any fact join.

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")).select("p_partkey", "p_retailprice")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount", "l_quantity")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 6).alias("profit"),
             F.count(F.lit(1)).alias("n_items"))
        .coalesce(1).orderBy("n_name", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 6) AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, o_year ORDER BY n_name, o_year DESC
"""


# --- q11_important_parts: HAVING vs a global scalar (TPC-H Q11) ------------
# Parts whose demand (total quantity via positive-balance suppliers)
# exceeds 1.1x the mean part demand.  Q11's absolute-fraction threshold
# goes empty as SF grows (every part's share shrinks ~1/|part|); the
# fair-share multiple is the form that scales.  Plan quality face: the
# scalar threshold re-aggregates the 1-row-per-part frame -- NOT the
# fact table -- so the fact is scanned once and the identical pv
# subtree on both sides of the crossJoin resolves to a ReusedExchange;
# the threshold itself joins as a broadcast 1-row frame.  Demand sums
# integral doubles, so the comparison is exact in both engines.

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 0.0).select("s_suppkey")
    pv = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("demand"))
    )
    thr = pv.agg(
        (1.1 * F.sum("demand") / F.count(F.lit(1))).alias("cutoff"))
    return (
        pv.crossJoin(F.broadcast(thr))
        .filter(F.col("demand") > F.col("cutoff"))
        .select("l_partkey", F.col("demand").cast("long").alias("demand"))
        .orderBy(F.desc("demand"), "l_partkey")
    )


Q11_SQL = """
WITH pv AS (
  SELECT l_partkey, SUM(l_quantity) AS demand
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey AND s_acctbal > 0.0
  GROUP BY l_partkey
), thr AS (SELECT 1.1 * SUM(demand) / COUNT(*) AS cutoff FROM pv)
SELECT l_partkey, CAST(demand AS BIGINT) AS demand
FROM pv, thr WHERE demand > cutoff
ORDER BY demand DESC, l_partkey
"""


# --- q12_priority_shipping: dual conditional counts (TPC-H Q12) ------------
# High- vs low-priority line counts per linestatus for one ship year
# (the testdata has no l_shipmode; linestatus is the grouping
# surrogate).  Plan quality face: both counts are CASE-sums inside ONE
# aggregate over one orderkey join -- a naive translation runs two
# filtered aggregates and joins them, doubling the fact scan; the
# shipdate range pushes into the lineitem scan before the join.

def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"))
        .coalesce(1).orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


# --- q13_order_distribution: outer join through two agg levels (Q13) -------
# Distribution of customers by order count, excluding one priority
# class (the comment-pattern surrogate).  Plan quality face: the
# priority predicate lives in the JOIN CONDITION, not a WHERE -- a
# WHERE after a left join silently turns it inner and drops the
# zero-order customers that Q13 exists to count; COUNT(o_orderkey)
# (not COUNT(*)) keeps the null-extended rows at zero.

def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    c_orders = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


# --- q15_top_supplier: scalar MAX over a reused aggregate (TPC-H Q15) ------
# The supplier(s) with maximum revenue in one ship quarter.  Plan
# quality face: the revenue view is aggregated ONCE from the fact scan;
# the MAX re-aggregates that ~|supplier|-row frame (ReusedExchange, not
# a second fact scan) and joins back as a broadcast 1-row frame.  The
# equality is same-engine-exact on both sides; cross-engine agreement
# needs only that no two suppliers' revenues tie within summation-order
# noise (~1e-9 relative -- revenues differ by orders of magnitude more).

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01")))
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.round("total_revenue", 6).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(total_revenue, 6) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# --- q16_part_supplier_census: anti-join exclusion + distinct agg (Q16) ----
# Distinct-supplier counts per (brand, type, size) for selected sizes,
# excluding non-PROMO parts and suppliers with negative balances (the
# complaint surrogate).  Plan quality face: the NOT IN is a hash
# LeftAnti BEFORE the distinct aggregate -- excluded suppliers never
# reach the shuffle -- and there is no pre-distinct of (part, supplier)
# pairs: COUNT(DISTINCT) already dedups, so an explicit DISTINCT would
# only add a second exchange.

def q16_part_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- q20_dominant_suppliers: aggregate -> share -> semi-join chain (Q20) ---
# Per supplier, how many 'small *' parts they near-dominated in 1997
# (shipped >= half of the part's single-supplier maximum; the testdata
# has no partsupp availqty, so dominance is relative to the observed
# per-part max).  Plan quality face: Q20's nested IN-subquery chain
# flattens to aggregate -> window share filter -> join; the part-name
# filter prunes the fact scan first, and the share threshold compares
# exact integral-double quantity sums (0.5 * max is an exact halving),
# so the filter is deterministic cross-engine.

def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small %")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    sp = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    dom = sp.withColumn(
        "max_qty", F.max("qty").over(Window.partitionBy("l_partkey")))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dom.filter(F.col("qty") >= 0.5 * F.col("max_qty"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant"))
        .orderBy(F.desc("n_dominant"), "s_name")
    )


Q20_SQL = """
WITH sp AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small %'
  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  GROUP BY l_partkey, l_suppkey
), dom AS (
  SELECT *, MAX(qty) OVER (PARTITION BY l_partkey) AS max_qty FROM sp
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_dominant
FROM dom JOIN supplier ON l_suppkey = s_suppkey
WHERE qty >= 0.5 * max_qty
GROUP BY s_name ORDER BY n_dominant DESC, s_name
"""


# --- q21_blocking_suppliers: EXISTS/NOT EXISTS census (TPC-H Q21) ----------
# Suppliers who were the SOLE returned-line supplier on multi-supplier
# finalized orders (the testdata has no commit/receipt dates, so the
# 'kept waiting' predicate is surrogated by l_returnflag = 'R').  Plan
# quality face: Q21's correlated EXISTS (another supplier on the order)
# + NOT EXISTS (another supplier with a returned line) -- the oracle
# keeps that textbook correlated form -- decorrelates here into ONE
# per-order census: both window counts share the l_orderkey partition,
# so the whole exists/not-exists pair costs a single exchange instead
# of two self-joins of the fact table.  Top-20 plans as
# TakeOrderedAndProject with the unique (numwait, s_name) key.

def q21_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    flagged = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r"))
    )
    w = Window.partitionBy("l_orderkey")
    census = (flagged
              .withColumn("n_supp", F.count(F.lit(1)).over(w))
              .withColumn("n_r", F.sum("has_r").over(w)))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        census.filter((F.col("has_r") == 1) & (F.col("n_supp") >= 2)
                      & (F.col("n_r") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH flagged AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM flagged f1 JOIN supplier ON f1.l_suppkey = s_suppkey
WHERE f1.has_r = 1
  AND EXISTS (SELECT 1 FROM flagged f2
              WHERE f2.l_orderkey = f1.l_orderkey
                AND f2.l_suppkey <> f1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM flagged f3
                  WHERE f3.l_orderkey = f1.l_orderkey
                    AND f3.l_suppkey <> f1.l_suppkey AND f3.has_r = 1)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
"""


QUERIES = {
    "zorder_cluster_stats": zorder_cluster_stats,
    "events_ohlc": events_ohlc,
    "events_funnel": events_funnel,
    "events_retention_cohorts": events_retention_cohorts,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "top_customers_window": top_customers_window,
    "orders_rollup": orders_rollup,
    "order_value_deciles": order_value_deciles,
    "customer_order_coverage": customer_order_coverage,
    "events_sessionize": events_sessionize,
    "events_cube_summary": events_cube_summary,
    "events_type_pivot": events_type_pivot,
    "q6_forecast_revenue": q6_forecast_revenue,
    "orders_customer_reconcile": orders_customer_reconcile,
    "events_json_extract": events_json_extract,
    "asof_click_attribution": asof_click_attribution,
    "range_join_prior_activity": range_join_prior_activity,
    "q4_order_priority": q4_order_priority,
    "inactive_customers_by_nation": inactive_customers_by_nation,
    "brand_supplier_breadth": brand_supplier_breadth,
    "repeat_buyer_setops": repeat_buyer_setops,
    "skew_salted_distinct": skew_salted_distinct,
    "skew_salted_join": skew_salted_join,
    "nation_rolling_revenue": nation_rolling_revenue,
    "supplier_brand_division": supplier_brand_division,
    "orders_above_customer_avg": orders_above_customer_avg,
    "orders_grouping_sets": orders_grouping_sets,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q18_large_orders": q18_large_orders,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q10_returned_items": q10_returned_items,
    "q14_promo_revenue": q14_promo_revenue,
    "q17_small_quantity": q17_small_quantity,
    "q22_dormant_value": q22_dormant_value,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q12_priority_shipping": q12_priority_shipping,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_part_supplier_census": q16_part_supplier_census,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q21_blocking_suppliers": q21_blocking_suppliers,
    "bucketed_segment_revenue": bucketed_segment_revenue,
}

ORACLES = {
    "zorder_cluster_stats": ZORDER_STATS_SQL,
    "events_ohlc": EVENTS_OHLC_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "bucketed_segment_revenue": BUCKETED_SEGMENT_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "top_customers_window": TOP_CUSTOMERS_SQL,
    "orders_rollup": ORDERS_ROLLUP_SQL,
    "order_value_deciles": DECILES_SQL,
    "customer_order_coverage": COVERAGE_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "events_cube_summary": EVENTS_CUBE_SQL,
    "events_type_pivot": EVENTS_PIVOT_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "orders_customer_reconcile": RECONCILE_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "asof_click_attribution": ASOF_SQL,
    "range_join_prior_activity": RANGE_JOIN_SQL,
    "q4_order_priority": Q4_SQL,
    "inactive_customers_by_nation": INACTIVE_SQL,
    "brand_supplier_breadth": BRAND_BREADTH_SQL,
    "repeat_buyer_setops": SETOPS_SQL,
    "skew_salted_distinct": SKEW_DISTINCT_SQL,
    "skew_salted_join": SKEW_JOIN_SQL,
    "nation_rolling_revenue": NATION_ROLLING_SQL,
    "supplier_brand_division": SUPPLIER_DIVISION_SQL,
    "orders_above_customer_avg": ORDERS_ABOVE_AVG_SQL,
    "orders_grouping_sets": ORDERS_GROUPING_SETS_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q18_large_orders": Q18_SQL,
    "q7_nation_volume": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q10_returned_items": Q10_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q17_small_quantity": Q17_SQL,
    "q22_dormant_value": Q22_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_priority_shipping": Q12_SQL,
    "q13_order_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_part_supplier_census": Q16_SQL,
    "q20_dominant_suppliers": Q20_SQL,
    "q21_blocking_suppliers": Q21_SQL,
}
