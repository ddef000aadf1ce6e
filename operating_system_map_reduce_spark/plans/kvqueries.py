"""The reference's KV/auth/map-reduce command surface, re-expressed as
distributed query plans over the testdata tables.

Mapping (SURVEY.md section 2.1): we model a KV store with
``part`` (key = p_partkey, value = p_name) and an auth table with
``customer``; ``events`` doubles as the mutation/changelog stream
(event_id = seq, user_id = key, event_type = op).

Every plan is collect-free and partition-parallel; point lookups push
an equality predicate into the parquet scan (at 100 TB this becomes a
partition-pruned / z-ordered read, not a full scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.sources.tables import load_table as _t


# --- KVG: point read (reference p4/server/my_storage.cc:242-286) ----------
# filter + projection; predicate pushdown makes this a pruned scan.

def kv_get_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey").isin(42, 111, 999))
        .select(F.col("p_partkey").alias("key"), F.col("p_name").alias("value"))
        .orderBy("key")
    )


KV_GET_SQL = """
SELECT p_partkey AS key, p_name AS value
FROM part WHERE p_partkey IN (42, 111, 999)
ORDER BY key
"""


# --- KVA / all_keys map-reduce (p5/so/all_keys.cc): key-column scan -------
# The map emits the key, the reduce folds to a list.  Spark-first this is
# a key projection; the fold is an aggregate so nothing funnels through
# the driver.

def kv_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("p_partkey")).alias("key_checksum"),
            F.min("p_partkey").alias("min_key"),
            F.max("p_partkey").alias("max_key"),
        )
    )


KV_ALL_KEYS_SQL = """
SELECT COUNT(*) AS n_keys, CAST(SUM(p_partkey) AS BIGINT) AS key_checksum,
       MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
FROM part
"""


# --- KVI / REG: guarded insert-if-absent = left-anti join -----------------
# (reference insert probe, p2/server/concurrenthashmap.h:88-111).
# The "batch" is the distinct purchaser set from events; the "store" is
# customer.  Returns the rows that WOULD be inserted.  At scale: anti
# join shuffles on the key unless the store side broadcasts.

def kv_insert_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    batch = ev.filter(F.col("event_type") == "signup").select(F.col("user_id")).distinct()
    return (
        batch.join(cust, batch.user_id == cust.c_custkey, "left_anti")
        .select(F.col("user_id").alias("new_key"))
        .orderBy("new_key")
    )


KV_INSERT_SQL = """
SELECT DISTINCT user_id AS new_key
FROM events
WHERE event_type = 'signup'
  AND user_id NOT IN (SELECT c_custkey FROM customer)
ORDER BY new_key
"""


# --- KVU: upsert with OK_INSERT / OK_UPDATE discrimination ----------------
# (p4/server/my_storage.cc:343-417, RES_OKINS/RES_OKUPD).  Existence
# probe = left join + null check; Spark-first form of MERGE metrics.

def kv_upsert_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    batch = ev.filter(F.col("event_type").isin("signup", "purchase")).select("user_id").distinct()
    probe = batch.join(
        cust.select(F.col("c_custkey")), batch.user_id == F.col("c_custkey"), "left"
    )
    return (
        probe.select(
            F.col("user_id").alias("key"),
            F.when(F.col("c_custkey").isNull(), F.lit("OK_INSERT"))
            .otherwise(F.lit("OK_UPDATE"))
            .alias("code"),
        )
        .groupBy("code")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1).orderBy("code")
    )


KV_UPSERT_SQL = """
SELECT CASE WHEN c_custkey IS NULL THEN 'OK_INSERT' ELSE 'OK_UPDATE' END AS code,
       COUNT(*) AS n
FROM (SELECT DISTINCT user_id FROM events WHERE event_type IN ('signup','purchase')) b
LEFT JOIN customer ON b.user_id = c_custkey
GROUP BY 1
ORDER BY code
"""


# --- changelog replay (load_file, p3/server/my_storage.cc:573-702) --------
# Log-structured state reconstruction: latest record per key wins,
# tombstones ('error' plays the KVDELETE role) drop the key.  This is
# the window-dedup replay view from SURVEY section 1.4 -- the exact
# pattern that replaces the reference's sequential log replay, and it
# scales: one shuffle on key, no ordering assumption on the log files.

def changelog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != "error")
    )
    return latest.select(
        F.col("user_id").alias("key"),
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
        F.col("event_id").alias("last_seq"),
    ).orderBy("key")


CHANGELOG_REPLAY_SQL = """
SELECT user_id AS key, event_type AS last_op, value AS last_value, event_id AS last_seq
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1 AND event_type <> 'error'
ORDER BY key
"""


# --- changelog AS-OF: time travel over the append-only log -----------------
# Time travel as SQL over the events log, the same latest-seq-per-key
# replay rule as ChangeLog.replay (sources/changelog.py) applied to a
# prefix: the state AS OF the mid-history sequence (S = head-seq div 2,
# deterministic in both engines) compared against head state.  On an
# append-only log every historical snapshot is a FILTER ahead of the
# same one-shuffle dedup -- the reference gets the identical semantics
# by stopping load_file's sequential apply after S records
# (p3/server/my_storage.cc:573-702).  Tombstone analog: a user whose
# latest event at the snapshot is 'error' is absent from it, exactly
# changelog_replay's rule.  Output is the per-key drift census between
# the snapshot and head: keys created since, keys tombstoned since,
# keys whose value moved.  S reaches the driver as one 1-row aggregate
# probe (the established constant-size-collect discipline).

def changelog_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    s = ev.agg(F.coalesce(F.max("event_id"), F.lit(0)).alias("m")).collect()[0]["m"] // 2  # coalesce: empty log => snapshot at 0

    def snapshot(src: DataFrame, prefix: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
        return (
            src.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
            .select(
                F.col("user_id").alias("key"),
                F.col("event_type").alias(f"{prefix}_op"),
                F.col("event_id").alias(f"{prefix}_seq"),
            )
        )

    asof = snapshot(ev.filter(F.col("event_id") <= F.lit(s)), "asof")
    head = snapshot(ev, "head")
    return (
        asof.join(head, "key", "full_outer")
        .select(
            "key",
            F.coalesce("asof_op", F.lit("absent")).alias("asof_op"),
            F.coalesce("asof_seq", F.lit(-1)).cast("long").alias("asof_seq"),
            F.coalesce("head_op", F.lit("absent")).alias("head_op"),
            F.coalesce("head_seq", F.lit(-1)).cast("long").alias("head_seq"),
            (F.coalesce("asof_seq", F.lit(-1))
             != F.coalesce("head_seq", F.lit(-1))).cast("long")
            .alias("changed_since"),
        )
        .orderBy("key")
    )


CHANGELOG_ASOF_SQL = """
WITH s AS (
  SELECT MAX(event_id) // 2 AS cut FROM events
), snap AS (
  -- "asof" is a DuckDB reserved word (ASOF JOIN), hence "snap"
  SELECT user_id AS key, event_type AS asof_op, event_id AS asof_seq
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id <= (SELECT cut FROM s)
  ) WHERE rn = 1 AND event_type <> 'error'
), head AS (
  SELECT user_id AS key, event_type AS head_op, event_id AS head_seq
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1 AND event_type <> 'error'
)
SELECT COALESCE(a.key, h.key) AS key,
       COALESCE(asof_op, 'absent') AS asof_op,
       CAST(COALESCE(asof_seq, -1) AS BIGINT) AS asof_seq,
       COALESCE(head_op, 'absent') AS head_op,
       CAST(COALESCE(head_seq, -1) AS BIGINT) AS head_seq,
       CAST(CASE WHEN COALESCE(asof_seq, -1) <> COALESCE(head_seq, -1)
            THEN 1 ELSE 0 END AS BIGINT) AS changed_since
FROM snap a FULL OUTER JOIN head h ON a.key = h.key
ORDER BY key
"""


# --- changelog AUTHDIFF replay: the SET command's data op -------------------
# SET appends an AUTHDIFF record (username, profile bytes) and replay
# upserts it last-write-wins (p3/server/my_storage.cc:150-169 writes
# the record; load_file:573-702 applies it).  Two dispatch-parity rules
# the degenerate-file tests pin (engine.py:363-447) are the
# interesting semantics: duplicate REG inserts are FIRST-value-wins,
# and an AUTHDIFF for a user with no REG record still creates the
# entry (empty-credential upsert), so the user exists with an
# "implicit" registration.  Modeled on the events log: 'signup' plays
# REG (first per user wins), 'view' plays AUTHDIFF/SET (last per user
# wins, its props string is the profile content).  One shuffle on the
# key; the profile pick rides the same hash aggregate as the seq
# census via max(struct(seq, props)) -- no second shuffle, no window
# pass over the full log.

def changelog_authdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    is_reg = F.col("event_type") == "signup"
    is_set = F.col("event_type") == "view"
    return (
        ev.filter(is_reg | is_set)
        .groupBy("user_id")
        .agg(
            F.coalesce(F.min(F.when(is_reg, F.col("event_id"))), F.lit(-1))
            .cast("long").alias("reg_seq"),
            F.coalesce(F.max(F.when(is_set, F.col("event_id"))), F.lit(-1))
            .cast("long").alias("profile_seq"),
            F.count(F.when(is_set, F.lit(1))).cast("long").alias("n_sets"),
            # struct max orders by seq first (unique per user), so this
            # IS the latest-record-wins window dedup fused into the agg
            F.max(F.when(is_set, F.struct("event_id", "props")))
            .alias("last_set"),
        )
        .select(
            F.col("user_id").alias("key"),
            "reg_seq",
            (F.col("reg_seq") == -1).cast("long").alias("implicit_reg"),
            "profile_seq",
            F.coalesce(F.col("last_set.props"), F.lit("")).alias("profile"),
            "n_sets",
        )
        .orderBy("key")
    )


CHANGELOG_AUTHDIFF_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(COALESCE(MIN(CASE WHEN event_type = 'signup' THEN event_id END), -1) AS BIGINT) AS reg_seq,
         CAST(COALESCE(MAX(CASE WHEN event_type = 'view' THEN event_id END), -1) AS BIGINT) AS profile_seq,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_sets
  FROM events
  WHERE event_type IN ('signup', 'view')
  GROUP BY user_id
), prof AS (
  -- the same window dedup as changelog_replay, restricted to AUTHDIFF
  SELECT user_id, props FROM (
    SELECT user_id, props,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
)
SELECT p.user_id AS key, reg_seq,
       CAST(CASE WHEN reg_seq = -1 THEN 1 ELSE 0 END AS BIGINT) AS implicit_reg,
       profile_seq, COALESCE(pr.props, '') AS profile, n_sets
FROM per_user p LEFT JOIN prof pr ON p.user_id = pr.user_id
ORDER BY key
"""


# --- KVT: MRU top-k (p4/server/my_mru.cc) --------------------------------
# Recency table -> order by last access desc, limit top_size.  Dedup
# happens in the max() aggregate; eviction is the LIMIT.

def kv_top_mru(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.max(F.struct(F.col("ts_us"), F.col("event_id"))).alias("last"))
        .select(
            F.col("user_id").alias("key"),
            F.col("last.ts_us").alias("last_ts"),
            F.col("last.event_id").alias("last_seq"),
        )
        .orderBy(F.desc("last_ts"), F.desc("last_seq"))
        .limit(10)
    )


KV_TOP_SQL = """
SELECT user_id AS key, ts_us AS last_ts, event_id AS last_seq
FROM (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY last_ts DESC, last_seq DESC
LIMIT 10
"""


# --- quota sliding window (p4/server/my_quota_tracker.cc:44-77) -----------
# Event-time range frame: for each event, the amount consumed in the
# trailing 60 s window.  Output: per user, peak window consumption and
# how many events would exceed an 8-unit quota.  (The reference's exact
# sequential admit/record semantics live in operators/quota.py; this is
# the declarative window form.)

def quota_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"))
        .rangeBetween(-3_600_000_000, 0)
    )
    windowed = ev.withColumn("window_sum", F.sum("value").over(w))
    return (
        windowed.groupBy("user_id")
        .agg(
            F.round(F.max("window_sum"), 6).alias("peak_window"),
            F.sum(F.when(F.col("window_sum") > 50.0, 1).otherwise(0)).alias("n_over_quota"),
        )
        .orderBy("user_id")
    )


QUOTA_WINDOW_SQL = """
WITH windowed AS (
  SELECT user_id,
         SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS window_sum
  FROM events
)
SELECT user_id, ROUND(MAX(window_sum), 6) AS peak_window,
       CAST(SUM(CASE WHEN window_sum > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_quota
FROM windowed
GROUP BY user_id
ORDER BY user_id
"""


# --- auth: salted-hash verification (p3/server/my_storage.cc:80-87) -------
# sha2(concat(secret, salt)) built-in -- stays in whole-stage codegen.

def auth_hash_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            F.col("c_custkey").alias("username"),
            F.sha2(F.concat(F.col("c_name"), F.lit("|salt|"), F.col("c_custkey").cast("string")), 256).alias("pass_hash"),
        )
        .orderBy("username")
        .limit(100)
    )


AUTH_HASH_SQL = """
SELECT c_custkey AS username,
       sha256(c_name || '|salt|' || CAST(c_custkey AS VARCHAR)) AS pass_hash
FROM customer
ORDER BY username
LIMIT 100
"""


# --- ALL: newline-joined user list (p3/server/my_storage.cc:209-224) ------
# Deterministic fold: sort inside the aggregate.  The reference's output
# is unsorted; tests sort before comparing (cse303.py:215-239) so a
# sorted fold is test-equivalent and deterministic under parallelism.

def all_users_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    return supp.groupBy().agg(
        F.concat_ws("\n", F.sort_array(F.collect_list(F.col("s_name")))).alias("user_list"),
        F.count(F.lit(1)).alias("n_users"),
    )


ALL_USERS_SQL = """
SELECT string_agg(s_name, chr(10) ORDER BY s_name) AS user_list,
       COUNT(*) AS n_users
FROM supplier
"""


# --- odd_key_vals map-reduce (p5/so/odd_key_vals.cc:8-24) -----------------
# map: emit value iff numeric key suffix is odd; emitted value is the
# value repeated twice.  reduce: fold (here: count + checksum so the
# fold is distributed).  Filter + scalar transform + aggregate.

def mr_odd_key_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") % 2 == 1)
        .select(
            F.col("p_partkey").alias("key"),
            F.concat(F.col("p_name"), F.col("p_name")).alias("doubled_value"),
        )
        .orderBy("key")
    )


MR_ODD_SQL = """
SELECT p_partkey AS key, p_name || p_name AS doubled_value
FROM part
WHERE p_partkey % 2 = 1
ORDER BY key
"""


# --- at-rest AES parity (p1/common/crypto.h:26-49) ------------------------
# The reference AES-encrypts every payload it persists or transmits
# (aes_crypt_msg, p1/common/my_crypto.cc).  Spark-first at-rest parity:
# encrypt the kv value column with the built-in aes_encrypt, decrypt it
# back, and emit DuckDB-derivable evidence -- the plaintext digest of
# the decrypted bytes (proves decrypt(encrypt(x)) == x), the PKCS block
# envelope of the ciphertext, and the roundtrip flag.  ECB is used ONLY
# because the oracle needs a deterministic ciphertext length; a real
# deployment uses GCM with a random IV (same built-in, one argument).

_AES_KEY = "0123456789abcdef0123456789abcdef"  # 32 bytes -> AES-256


def kv_aes_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    plain = F.encode(F.col("p_name"), "UTF-8")
    enc = F.aes_encrypt(plain, F.lit(_AES_KEY), F.lit("ECB"), F.lit("PKCS"))
    dec = F.aes_decrypt(F.col("cipher"), F.lit(_AES_KEY), F.lit("ECB"), F.lit("PKCS"))
    return (
        part.select(F.col("p_partkey").alias("key"), plain.alias("plain"),
                    enc.alias("cipher"))
        .select(
            F.col("key"),
            F.octet_length("cipher").cast("bigint").alias("cipher_len"),
            F.md5(dec).alias("plain_md5"),
            (dec == F.col("plain")).alias("roundtrip_ok"),
        )
        .orderBy("key")
    )


KV_AES_SQL = """
SELECT p_partkey AS key,
       CAST((strlen(p_name) // 16 + 1) * 16 AS BIGINT) AS cipher_len,
       md5(p_name) AS plain_md5,
       TRUE AS roundtrip_ok
FROM part
ORDER BY key
"""


# --- deterministic 80/10/10 ops-mix (reference p2/bench/bench.cc:21-25,
# 96-99: 50% pre-fill, 80% lookup / 10% insert / 10% remove) -------------
# bench.py's kv_mix_bench times this shape; this registered twin trades
# spark.range + murmur hash (not replicable in DuckDB) for a seeded op
# table derived from orders via md5 (the engine-shared hex template), so
# the ops-mix PATH gets a hard correctness row too.  Op semantics as
# bulk set algebra: one hash join against the pre-filled base classifies
# every op's outcome -- lookup hit/miss, insert ok/duplicate, remove
# ok/miss -- instead of a per-op critical section.  Scale shape: the
# base side broadcasts while small and degrades to a single key-keyed
# shuffle join when it outgrows the threshold; the op table never
# shuffles twice.

def kv_mix_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.dedup import (
        hexval_spark_sql,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    ops = orders.select(
        F.col("o_orderkey").alias("op_id"),
        F.col("o_custkey"),
        F.md5(F.concat(F.lit("op|"), F.col("o_orderkey").cast("string"))).alias("hxc"),
        F.md5(F.concat(F.lit("miss|"), F.col("o_orderkey").cast("string"))).alias("hxm"),
    ).select(
        "op_id",
        (F.expr(hexval_spark_sql("hxc")) % 10).alias("klass"),
        # every ~4th op targets a key outside the base domain (guaranteed
        # miss); the rest probe real customer keys (~50% pre-filled)
        F.when(F.expr(hexval_spark_sql("hxm")) % 4 == 0, -F.col("op_id"))
         .otherwise(F.col("o_custkey")).alias("key"),
    )
    base = (
        customer
        .withColumn("hxb", F.md5(F.concat(F.lit("b|"), F.col("c_custkey").cast("string"))))
        .filter(F.expr(hexval_spark_sql("hxb")) % 2 == 0)
        .select(F.col("c_custkey").alias("key"), F.lit(1).alias("present"))
    )
    hit = F.col("present").isNotNull()
    outcome = (
        F.when(F.col("klass") < 8, F.when(hit, "lookup_hit").otherwise("lookup_miss"))
        .when(F.col("klass") == 8, F.when(hit, "insert_dup").otherwise("insert_ok"))
        .otherwise(F.when(hit, "remove_ok").otherwise("remove_miss"))
    )
    return (
        ops.join(base, "key", "left")
        .select(outcome.alias("outcome"), "op_id")
        .groupBy("outcome")
        .agg(F.count(F.lit(1)).alias("n_ops"), F.min("op_id").alias("first_op"))
        .coalesce(1).orderBy("outcome")
    )


def _kv_mix_sql() -> str:
    from operating_system_map_reduce_spark.operators.dedup import hexval_sql

    return f"""
WITH ops AS (
  SELECT op_id,
         ({hexval_sql('hxc')}) % 10 AS klass,
         CASE WHEN ({hexval_sql('hxm')}) % 4 = 0 THEN -op_id ELSE o_custkey END AS key
  FROM (
    SELECT o_orderkey AS op_id, o_custkey,
           md5('op|' || CAST(o_orderkey AS VARCHAR)) AS hxc,
           md5('miss|' || CAST(o_orderkey AS VARCHAR)) AS hxm
    FROM orders
  )
), base AS (
  SELECT c_custkey AS key, 1 AS present
  FROM (SELECT c_custkey, md5('b|' || CAST(c_custkey AS VARCHAR)) AS hxb FROM customer)
  WHERE ({hexval_sql('hxb')}) % 2 = 0
)
SELECT outcome, COUNT(*) AS n_ops, MIN(op_id) AS first_op
FROM (
  SELECT CASE
           WHEN klass < 8 THEN (CASE WHEN present IS NOT NULL THEN 'lookup_hit' ELSE 'lookup_miss' END)
           WHEN klass = 8 THEN (CASE WHEN present IS NOT NULL THEN 'insert_dup' ELSE 'insert_ok' END)
           ELSE (CASE WHEN present IS NOT NULL THEN 'remove_ok' ELSE 'remove_miss' END)
         END AS outcome,
         op_id
  FROM ops LEFT JOIN base USING (key)
)
GROUP BY outcome ORDER BY outcome
"""


# --- scd2_profile_versions: slowly-changing-dimension history --------------
# The third face of the changelog family: changelog_replay materializes
# the LATEST state, changelog_asof a snapshot AT a time -- SCD Type 2
# materializes the whole validity-interval history (the warehouse
# pattern for dimension versioning, cf. Kimball SCD2): per user, each
# run of consecutive events with the SAME profile value collapses into
# one version [valid_from, valid_to), closed by the next CHANGE and
# left open (NULL valid_to) for the current version.  The profile value
# is props.k (the same JSON field events_json_extract reads; a missing
# key is a legitimate NULL version, compared null-safely).  Scale
# shape: one user-keyed shuffle feeds the lag (change detection), the
# lead (interval close) AND the final aggregate -- the three window
# passes share the partitioning, and nothing but per-user sequential
# semantics ever leaves the executor.  Output is the per-user version
# census (integer micros arithmetic, exact cross-engine).

def scd2_profile_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("val"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = (
        ev.withColumn("prev", F.lag("val").over(w))
        .withColumn("rn", F.row_number().over(w))
        # version boundary: the first event, or a null-safe value change
        .filter((F.col("rn") == 1) | ~F.col("val").eqNullSafe(F.col("prev")))
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id"))
    iv = (chg.withColumn("valid_to", F.lead("ts_us").over(w))
          # current version's value: positional first in DESC order
          # (NULL is a legitimate value, so no max_by -- it skips nulls)
          .withColumn("cur", F.first("val").over(wd)))
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.min("ts_us").alias("first_us"),
            F.max("cur").alias("current_value"),
            F.count("valid_to").alias("n_closed"),
            F.max(F.col("valid_to") - F.col("ts_us"))
            .alias("longest_closed_us"),
        )
        .orderBy("user_id")
    )


SCD2_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS val
  FROM events
), chg AS (
  SELECT * FROM (
    SELECT user_id, ts_us, event_id, val,
           LAG(val) OVER w AS prev,
           ROW_NUMBER() OVER w AS rn
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
  ) WHERE rn = 1 OR val IS DISTINCT FROM prev
), iv AS (
  SELECT *,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS valid_to,
         FIRST_VALUE(val) OVER (PARTITION BY user_id
                                ORDER BY ts_us DESC, event_id DESC) AS cur
  FROM chg
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_versions,
       MIN(ts_us) AS first_us,
       MAX(cur) AS current_value,
       CAST(COUNT(valid_to) AS BIGINT) AS n_closed,
       MAX(valid_to - ts_us) AS longest_closed_us
FROM iv GROUP BY user_id ORDER BY user_id
"""


# --- changelog incremental aggregate maintenance ---------------------------
# The materialized-view face of log replay: the reference never
# recomputes server state from scratch while running -- load_file
# builds the snapshot once and every subsequent command APPLIES a
# delta to standing state (p3/server/my_storage.cc:573-702 replay,
# then per-command mutation); SAV compacts the applied state back to
# storage.  The analytics analog is incremental aggregate
# maintenance: a per-key aggregate materialized at snapshot seq S is
# brought to head by aggregating ONLY the tail (seq > S) and
# full-outer-merging the two -- legal exactly because count/sum/max
# are additively mergeable (Spark's own partial-aggregate algebra,
# lifted from within one job to between materializations).  At 100 TB
# the base is a stored MV and refresh cost is proportional to the
# DELTA, not the corpus; here both sides are computed so the oracle's
# from-scratch recompute proves merge ≡ recompute.  S reaches the
# driver as a 1-row aggregate probe (constant-size-collect
# discipline).  The double SUM stays raw per the repo's float rule
# (the compare's 1e-9 rel tol absorbs summation-grouping ulps;
# rounding could flip a half-boundary).

def changelog_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.agg(F.coalesce(F.max("event_id"), F.lit(0)).alias("m")).collect()[0]["m"] // 2  # coalesce: empty log => snapshot at 0

    def mv(src: DataFrame, p: str) -> DataFrame:
        return src.groupBy("user_id").agg(
            F.count(F.lit(1)).alias(f"{p}_n"),
            F.sum("value").alias(f"{p}_v"),
            F.max("event_id").alias(f"{p}_seq"),
        )

    base = mv(ev.filter(F.col("event_id") <= F.lit(s)), "b")
    delta = mv(ev.filter(F.col("event_id") > F.lit(s)), "d")
    return (
        base.join(delta, "user_id", "full_outer")
        .select(
            F.col("user_id").alias("key"),
            (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long").alias("n_events"),
            (F.coalesce("b_v", F.lit(0.0)) + F.coalesce("d_v", F.lit(0.0)))
            .alias("total_value"),
            F.greatest(F.coalesce("b_seq", F.lit(-1)),
                       F.coalesce("d_seq", F.lit(-1)))
            .cast("long").alias("last_seq"),
        )
        .orderBy("key")
    )


# The oracle is deliberately the from-scratch single-pass recompute:
# hash parity proves the incremental merge reproduces it exactly.
CHANGELOG_INCR_SQL = """
SELECT user_id AS key,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(value) AS total_value,
       CAST(MAX(event_id) AS BIGINT) AS last_seq
FROM events
GROUP BY user_id
ORDER BY key
"""


QUERIES = {
    "kv_get_point": kv_get_point,
    "kv_all_keys": kv_all_keys,
    "kv_insert_guarded": kv_insert_guarded,
    "kv_upsert_classify": kv_upsert_classify,
    "changelog_replay": changelog_replay,
    "changelog_asof": changelog_asof,
    "changelog_incremental_agg": changelog_incremental_agg,
    "scd2_profile_versions": scd2_profile_versions,
    "changelog_authdiff": changelog_authdiff,
    "kv_top_mru": kv_top_mru,
    "quota_sliding_window": quota_sliding_window,
    "auth_hash_users": auth_hash_users,
    "all_users_fold": all_users_fold,
    "mr_odd_key_vals": mr_odd_key_vals,
    "kv_aes_at_rest": kv_aes_at_rest,
    "kv_mix_ops": kv_mix_ops,
}

ORACLES = {
    "kv_mix_ops": _kv_mix_sql(),
    "kv_get_point": KV_GET_SQL,
    "kv_all_keys": KV_ALL_KEYS_SQL,
    "kv_insert_guarded": KV_INSERT_SQL,
    "kv_upsert_classify": KV_UPSERT_SQL,
    "changelog_replay": CHANGELOG_REPLAY_SQL,
    "changelog_asof": CHANGELOG_ASOF_SQL,
    "changelog_incremental_agg": CHANGELOG_INCR_SQL,
    "scd2_profile_versions": SCD2_SQL,
    "changelog_authdiff": CHANGELOG_AUTHDIFF_SQL,
    "kv_top_mru": KV_TOP_SQL,
    "quota_sliding_window": QUOTA_WINDOW_SQL,
    "auth_hash_users": AUTH_HASH_SQL,
    "all_users_fold": ALL_USERS_SQL,
    "mr_odd_key_vals": MR_ODD_SQL,
    "kv_aes_at_rest": KV_AES_SQL,
}
