"""Corpus-curation queries: cluster-level dedup, deterministic splits,
benchmark-contamination checks, stratified sampling.

Charter extension (LLM-training-data pipeline) on top of the near-dup
detectors in plans/pipeline.py: pair detection alone does not produce a
deduplicated corpus — pairs must be transitively closed into clusters
and a canonical representative chosen; a corpus must be split into
train/val/test without coordination; and eval benchmarks must be
checked for leakage into the training set.

Oracle-parity rules follow plans/pipeline.py: md5-only hashing (never
engine-native hash()), shared regex tokenization, rounding on any float
whose accumulation order could differ.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from operating_system_map_reduce_spark.operators import dedup as _dd
from operating_system_map_reduce_spark.operators import graph as _graph
from operating_system_map_reduce_spark.plans.pipeline import (
    DEDUP_MINHASH_SQL, dedup_minhash_lsh,
)
from operating_system_map_reduce_spark.sources.tables import derived, load_table as _t


# --- dedup clusters: pairs -> connected components -> canonical docs ------
# Edges = MinHash-LSH verified near-dup pairs UNION exact-dup star edges
# (each doc -> min doc of its md5(text) group; star edges are enough for
# connectivity and avoid the |group|^2 blowup of full cliques).  Labels
# come from operators/graph.connected_components (large-star/small-star
# contraction, O(log n) shuffle rounds regardless of component shape).
# The oracle replays the same closure with a recursive CTE.

def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, comp) labels over the near-dup graph: MinHash-LSH verified
    pairs UNION exact-dup star edges, transitively closed."""
    docs = _t(spark, sf_dir, "documents")
    mh_pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    wmin = Window.partitionBy("h")
    exact_pairs = (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .withColumn("m", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") > F.col("m"))
        .select(F.col("m").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return _graph.connected_components(
        mh_pairs.unionByName(exact_pairs), src="id_a", dst="id_b"
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cluster_labels(spark, sf_dir)
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("id").alias("max_doc"))
        .select(F.col("comp").alias("cluster_id"), "n_members", "max_doc")
        .orderBy("cluster_id")
    )


# The recursive closure enumerates (node, reachable-min-candidate) pairs,
# which is O(sum |C|^2) rows — fine at the driver's sf0.01 gate; the
# Spark side is the scale path (per-round shuffles, no quadratic set).
# Shared by the cluster-summary and canonical-purge oracles.
_CLUSTER_LABELS_CTE = f"""
WITH RECURSIVE mh_pairs AS (
  SELECT id_a, id_b FROM ({DEDUP_MINHASH_SQL}) mh
), exact_pairs AS (
  SELECT m AS id_a, doc_id AS id_b FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS m FROM documents
  ) WHERE doc_id > m
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION SELECT id_b, id_a FROM mh_pairs
  UNION SELECT id_a, id_b FROM exact_pairs
  UNION SELECT id_b, id_a FROM exact_pairs
), reach AS (
  SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst AS id, r.comp AS comp FROM reach r JOIN edges e ON e.src = r.id
), labels AS (
  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
)"""

DEDUP_CLUSTERS_SQL = f"""{_CLUSTER_LABELS_CTE}
SELECT comp AS cluster_id, COUNT(*) AS n_members, MAX(id) AS max_doc
FROM labels GROUP BY comp ORDER BY cluster_id
"""


# --- canonical purge: pick one survivor per cluster, quantify the cut -----
# The step that turns cluster labels into a deduplicated corpus: per
# cluster keep ONE canonical document -- the longest (max n_chars, ties
# to the smallest doc_id: deterministic, engine-shared) -- and purge
# the rest.  Emits the per-cluster purge manifest; docs in no cluster
# are untouched survivors and are intentionally absent (the manifest
# stays |clusters|-sized, not corpus-sized, at 100 TB).
# Scale shape: labels (one row per clustered doc) join documents on the
# primary key, one window over comp (cluster sizes are small by
# construction -- LSH buckets), one aggregate.

def dedup_purge_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = _cluster_labels(spark, sf_dir).join(
        docs, F.col("id") == F.col("doc_id")
    )
    w = Window.partitionBy("comp").orderBy(F.desc("n_chars"), F.asc("id"))
    ranked = members.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("comp")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("id"))).alias("keep_doc"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_purged"),
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
             .cast("long").alias("purged_chars"),
        )
        .select(F.col("comp").alias("cluster_id"), "keep_doc", "n_purged",
                "purged_chars")
        .orderBy("cluster_id")
    )


DEDUP_PURGE_SQL = f"""{_CLUSTER_LABELS_CTE}, members AS (
  SELECT l.comp, l.id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY l.comp
                            ORDER BY d.n_chars DESC, l.id ASC) AS rk
  FROM labels l JOIN documents d ON d.doc_id = l.id
)
SELECT comp AS cluster_id,
       MAX(CASE WHEN rk = 1 THEN id END) AS keep_doc,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_purged,
       CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS purged_chars
FROM members GROUP BY comp ORDER BY cluster_id
"""


# --- deterministic train/val/test split ----------------------------------
# Coordination-free assignment: bucket = md5(doc_id) mod 100 -> 80/10/10.
# Pure map-side at any scale (no shuffle before the stats agg); adding
# documents never reassigns existing ones, and both engines compute the
# identical bucket (md5 hex -> shared hex-decode template).

def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    bucket = F.expr(f"({_dd.hexval_spark_sql('hx')}) % 100")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .coalesce(1).orderBy("split")
    )


SPLIT_ASSIGN_SQL = f"""
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc
FROM (
  SELECT doc_id, n_chars,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id, n_chars, (({_dd.hexval_sql('hx')}) % 100) AS b
    FROM (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
  )
)
GROUP BY split ORDER BY split
"""


# --- benchmark contamination check ---------------------------------------
# Eval-set leakage scan: which corpus documents contain >= 30% of some
# benchmark document's 3-gram shingles?  The benchmark here is the
# deterministic subset doc_id % 20 == 0 (stand-in for a real eval set).
# Scale shape: inverted-index equi-join on the shingle with the SMALL
# benchmark postings broadcast — the 100 TB corpus side never shuffles;
# each task probes a hash map of benchmark shingles.  The oracle
# replays it as an intersect join (quadratic but fine at gate SF).

CONTAMINATION_THRESHOLD = 0.3


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = _dd.shingle_postings(docs)
    bench = (
        _dd.shingle_postings(docs.filter(F.col("doc_id") % 20 == 0))
        .select(
            F.col("doc_id").alias("bench_id"),
            F.col("n").alias("n_bench"),
            F.col("s").alias("s_b"),
        )
    )
    # Self-enforcing bound: the allowlist's claim is "an
    # eval suite is a fixed, bounded corpus"; 5M postings (~250 MB
    # relation) is an order of magnitude past any real eval suite
    # while still broadcast-safe.  Counting bench shingles only the
    # eval subset (the %20 filter sits BELOW the Python stage), so the
    # guard job is eval-sized, never corpus-sized.
    from operating_system_map_reduce_spark.operators.guards import (
        bounded_broadcast)
    shared = (
        corpus.join(bounded_broadcast(bench, 5_000_000,
                                      "contamination_check eval postings",
                                      sf_dir, "documents.parquet"),
                    corpus["s"] == bench["s_b"])
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id", "n_bench")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    contamination = F.round(F.col("n_shared") / F.col("n_bench"), 6)
    return (
        shared.withColumn("contamination", contamination)
        .filter(F.col("contamination") >= CONTAMINATION_THRESHOLD)
        .select("doc_id", "bench_id", "n_shared", "contamination")
        .orderBy("doc_id", "bench_id")
    )


CONTAMINATION_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents
  ) WHERE len(toks) >= {_dd.SHINGLE_N}
)
SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS contamination
FROM sh a JOIN sh b ON b.doc_id % 20 = 0 AND a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)
      >= {CONTAMINATION_THRESHOLD}
ORDER BY doc_id, bench_id
"""


# --- stratified sampling: deterministic per-language top-k by hash -------
# Reservoir-equivalent without randomness: rank documents per language
# by md5(salt|doc_id) and keep the first K — stable under reruns and
# append-only growth of OTHER strata.  Scale shape: a naive window rank
# sorts each whole stratum in one task; instead a salted local top-K
# prunes each stratum to 16*K candidates BEFORE the exact per-stratum
# rank, so no task ever sorts more than its partition's slice.

SAMPLE_K = 20


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang",
        F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))).alias("hx"),
    )
    salt = F.expr(f"({_dd.hexval_spark_sql('hx')}) % 16")
    w_local = Window.partitionBy("lang", "salt").orderBy("hx", "doc_id")
    cand = (
        d.withColumn("salt", salt)
        .withColumn("rn1", F.row_number().over(w_local))
        .filter(F.col("rn1") <= SAMPLE_K)
    )
    w_exact = Window.partitionBy("lang").orderBy("hx", "doc_id")
    return (
        cand.withColumn("smp_rank", F.row_number().over(w_exact).cast("long"))
        .filter(F.col("smp_rank") <= SAMPLE_K)
        .select("lang", "smp_rank", "doc_id")
        .orderBy("lang", "smp_rank")
    )


SAMPLE_STRATIFIED_SQL = f"""
SELECT lang, CAST(rn AS BIGINT) AS smp_rank, doc_id
FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('sample|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= {SAMPLE_K}
ORDER BY lang, smp_rank
"""


# --- KMV distinct-token sketch -------------------------------------------
# K-minimum-values cardinality estimator per language: keep the K
# smallest md5 hashes of distinct tokens; estimate = (K-1)/frac(Kth).
# Unlike approx_count_distinct (HLL, engine-internal and therefore not
# oracle-able), KMV over md5 is DETERMINISTIC and identical in DuckDB.
# Scale shape: same salted two-stage top-K as sample_stratified — the
# K-min set is a per-partition partial (k smallest merge associatively),
# so no stratum is ever sorted in one task; strata with < K distinct
# tokens report their exact count (the sketch degenerates to exact).

KMV_K = 64
_HEX48 = float(1 << 48)  # hexval() covers the first 12 hex chars


def sketch_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("lang", F.explode(_dd.tokens_expr()).alias("tok"))
        .distinct()
        .withColumn("hx", F.md5(F.col("tok")))
        .withColumn("hv", F.expr(_dd.hexval_spark_sql("hx")))
    )
    salt = F.expr(f"({_dd.hexval_spark_sql('hx')}) % 16")
    w_local = Window.partitionBy("lang", "salt").orderBy("hv", "tok")
    cand = (
        toks.withColumn("salt", salt)
        .withColumn("rn1", F.row_number().over(w_local))
        .filter(F.col("rn1") <= KMV_K)
    )
    w_exact = Window.partitionBy("lang").orderBy("hv", "tok")
    kmin = cand.withColumn("rn", F.row_number().over(w_exact)).filter(
        F.col("rn") <= KMV_K
    )
    agg = kmin.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_k"), F.max("hv").alias("kth_hash")
    )
    est = F.when(
        F.col("n_k") < KMV_K, F.col("n_k").cast("double")
    ).otherwise((KMV_K - 1) / (F.col("kth_hash") / F.lit(_HEX48)))
    return (
        agg.select("lang", "n_k", "kth_hash", F.round(est, 6).alias("est_distinct"))
        .orderBy("lang")
    )


SKETCH_DISTINCT_SQL = f"""
WITH toks AS (
  SELECT DISTINCT lang, tok FROM (
    SELECT lang,
           UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
    FROM documents
  )
), hv AS (
  SELECT lang, tok, ({_dd.hexval_sql('hx')}) AS hv
  FROM (SELECT lang, tok, md5(tok) AS hx FROM toks)
), kmin AS (
  SELECT lang, hv FROM (
    SELECT lang, hv,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, tok) AS rn
    FROM hv
  ) WHERE rn <= {KMV_K}
), agg AS (
  SELECT lang, COUNT(*) AS n_k, MAX(hv) AS kth_hash FROM kmin GROUP BY lang
)
SELECT lang, n_k, kth_hash,
       ROUND(CASE WHEN n_k < {KMV_K} THEN CAST(n_k AS DOUBLE)
                  ELSE ({KMV_K} - 1) / (kth_hash / {_HEX48!r}) END, 6) AS est_distinct
FROM agg ORDER BY lang
"""


# --- Count-Min heavy hitters ----------------------------------------------
# The FREQUENCY twin of the KMV cardinality sketch (Cormode &
# Muthukrishnan 2005): a D x W counter table where row d counts tokens
# by hash h_d, and est(t) = min_d cms[d][h_d(t)] >= true(t) -- the
# one-sided overestimate guarantee.  The face builds the sketch over
# the full token stream and reports the true top-K tokens with exact
# vs estimated counts and the (provably non-negative) overestimate,
# the validation census a pipeline runs before trusting the sketch for
# corpus-frequency point queries.
#
# Scale shape (100 TB): the token stream never materializes per-token
# state beyond the vocabulary-sized (tok, cnt) aggregate (map-side
# combinable; vocabularies grow sublinearly in corpus size), and the
# sketch itself is a CONSTANT D x W <= 2,048 rows regardless of corpus
# -- the probe join broadcasts it (a provably bounded side, the
# 1-row-census discipline).  Hashing follows the house universal
# family: ONE md5 per token -> 48-bit int -> D affine transforms
# (a_d*x + b_d) mod p mod W, so the DuckDB oracle regenerates the
# identical sketch.

CMS_D = 4
CMS_W = 512
CMS_TOPK = 20

CMS_A = [
    int(hashlib.md5(f"cms_a|{d}".encode()).hexdigest()[:8], 16)
    % (_dd.MINHASH_P - 1) + 1
    for d in range(CMS_D)
]
CMS_B = [
    int(hashlib.md5(f"cms_b|{d}".encode()).hexdigest()[:8], 16) % _dd.MINHASH_P
    for d in range(CMS_D)
]


def cms_heavy_hitters(tc: DataFrame) -> DataFrame:
    """CMS build + top-K probe over a (tok, cnt) frequency frame --
    the core sketch_heavy_hitters wraps, factored out so the seeded
    differential in tests/test_curation_property.py can drive it with
    generated token distributions the driver testdata never produces
    (forced bucket collisions, tie-heavy counts).

    Materialization is the CALLER's concern: sketch_heavy_hitters
    persists its corpus-derived frame through a single-slot cache
    (below); without a caller-provided persist the two consumers
    (sketch build, top-K probe) recompute ``tc``.  An earlier shape
    localCheckpoint'ed here, which has no public release handle and so
    leaked one vocabulary-sized copy per invocation."""
    tc = tc.withColumn("hv", F.expr(_dd.hexval_spark_sql("md5(tok)"))
                       % _dd.MINHASH_P)
    # one scan each for the sketch build and the probes: the depth
    # dimension rides an explode(sequence) row multiplier with the
    # affine constants as indexed array literals -- the first form
    # (D unionByName'd re-scans) re-ran the vocabulary-wide sort-limit
    # D times
    a_arr = F.array(*[F.lit(a) for a in CMS_A])
    b_arr = F.array(*[F.lit(b) for b in CMS_B])
    d_seq = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("d")
    bucket = ((F.element_at(a_arr, F.col("d") + 1) * F.col("hv")
               + F.element_at(b_arr, F.col("d") + 1))
              % _dd.MINHASH_P % CMS_W).alias("bucket")
    sketch = (tc.select("cnt", "hv", d_seq).select("cnt", "d", bucket)
              .groupBy("d", "bucket").agg(F.sum("cnt").alias("c")))
    topk = (tc.orderBy(F.desc("cnt"), "tok").limit(CMS_TOPK)
            .select("tok", "cnt", "hv"))
    probes = (topk.select("tok", "cnt", "hv", d_seq)
              .select("tok", "cnt", "d", bucket))
    est = (probes.join(F.broadcast(sketch), ["d", "bucket"])
           .groupBy("tok").agg(F.max("cnt").alias("exact_count"),
                               F.min("c").alias("est_count")))
    return (est.select(
        "tok", "exact_count", "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"))
        .orderBy(F.desc("exact_count"), "tok"))


def _unpersist(tc: DataFrame) -> None:
    try:
        tc.unpersist(blocking=False)
    except Exception:
        pass  # its session may be gone


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the (tok, cnt) frame feeds the sketch build AND the top-K probe
    # within one invocation, and interactive repeat invocations reuse
    # it (bench forgets it between timed runs -- a per-query derived
    # aggregate is not a standing table); a new key unpersists the old
    # frame, so per-SF sweeps don't accumulate vocabulary-sized copies
    def count_tokens() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        return (docs.select(F.explode(_dd.tokens_expr()).alias("tok"))
                .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
                .persist())

    return cms_heavy_hitters(derived(spark, sf_dir, "documents.parquet",
                                     "sketch_heavy_hitters", count_tokens,
                                     release=_unpersist))


def _cms_sql() -> str:
    p, w = _dd.MINHASH_P, CMS_W
    rows = " UNION ALL ".join(
        f"SELECT {d} AS d, ({CMS_A[d]} * hv + {CMS_B[d]}) % {p} % {w} AS bucket,"
        f" cnt FROM tc" for d in range(CMS_D))
    probes = " UNION ALL ".join(
        f"SELECT tok, cnt, {d} AS d,"
        f" ({CMS_A[d]} * hv + {CMS_B[d]}) % {p} % {w} AS bucket FROM topk"
        for d in range(CMS_D))
    return f"""
WITH tc AS (
  SELECT tok, COUNT(*) AS cnt, ({_dd.hexval_sql('md5(tok)')}) % {p} AS hv
  FROM (
    SELECT UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY tok
), sketch AS (
  SELECT d, bucket, CAST(SUM(cnt) AS BIGINT) AS c
  FROM ({rows}) GROUP BY d, bucket
), topk AS (
  SELECT tok, cnt, hv FROM (
    SELECT tok, cnt, hv,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn
    FROM tc
  ) WHERE rn <= {CMS_TOPK}
), est AS (
  SELECT p.tok, MAX(p.cnt) AS exact_count, MIN(s.c) AS est_count
  FROM ({probes}) p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
  GROUP BY p.tok
)
SELECT tok, exact_count, est_count,
       est_count - exact_count AS overestimate
FROM est ORDER BY exact_count DESC, tok
"""


SKETCH_CMS_SQL = _cms_sql()


# --- per-language length quantiles ---------------------------------------
# Exact interpolated percentiles of document length per language.  Both
# engines use linear interpolation on the sorted values and agree to the
# ulp (probed); ROUND(6) guards residual association noise.  Memory is
# bounded by the number of DISTINCT lengths per group (Spark's exact
# percentile aggregates a value->count map), not by row count — safe
# for integer length columns at any scale; for unbounded-cardinality
# metrics the approx_percentile / t-digest path replaces this form.

def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = F.expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), q.alias("q")
    )
    return (
        agg.select(
            "lang", "n_docs",
            F.round(F.col("q")[0], 6).alias("p50"),
            F.round(F.col("q")[1], 6).alias("p90"),
            F.round(F.col("q")[2], 6).alias("p99"),
        )
        .orderBy("lang")
    )


DOC_LENGTH_QUANTILES_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY lang ORDER BY lang
"""


# --- sample_weighted: deterministic weighted sampling (A-ES) ---------------
# Efraimidis-Spirakis weighted reservoir sampling, derandomized for
# oracle parity: each doc draws u in (0,1] from md5(doc_id) (48-bit
# fraction) and gets key = -ln(u) / w with w = n_chars, so longer docs
# are proportionally likelier; the global sample is the K smallest
# keys.  Exactly the one-pass distributed weighted-sampling shape used
# for training-data mixing -- at 100 TB the salted local top-K bounds
# every window partition to K rows and the exact global rank runs over
# salts*K candidates, never the corpus.  The key is float-continuous so
# cross-engine ties are impossible; doc_id breaks the (unreachable)
# exact-tie case deterministically.

SAMPLE_W_K = 100
_U_DENOM = float(1 << 48)


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string")))
    # weight-0 (empty) docs can never be drawn in Efraimidis-Spirakis
    # sampling (their key would be +inf); filtering them is the defined
    # semantics AND keeps the key division ANSI-safe
    d = (docs.filter(F.col("n_chars") > 0)
         .select("doc_id", "lang", "n_chars", hx.alias("hx")))
    u = (F.expr(_dd.hexval_spark_sql("hx")) + 1) / F.lit(_U_DENOM)
    key = -F.log(u) / F.col("n_chars")
    salt = F.expr(f"({_dd.hexval_spark_sql('hx')}) % 16")
    w_local = Window.partitionBy("salt").orderBy("key", "doc_id")
    cand = (
        d.withColumn("key", key).withColumn("salt", salt)
        .withColumn("rn1", F.row_number().over(w_local))
        .filter(F.col("rn1") <= SAMPLE_W_K)
    )
    w_exact = Window.orderBy("key", "doc_id")
    return (
        cand.withColumn("smp_rank", F.row_number().over(w_exact).cast("long"))
        .filter(F.col("smp_rank") <= SAMPLE_W_K)
        .select("smp_rank", "doc_id", "lang", "n_chars")
        .orderBy("smp_rank")
    )


SAMPLE_WEIGHTED_SQL = f"""
SELECT CAST(rn AS BIGINT) AS smp_rank, doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn
  FROM (
    SELECT doc_id, lang, n_chars,
           -LN((({_dd.hexval_sql('hx')}) + 1) / {_U_DENOM}) / n_chars AS k
    FROM (
      SELECT doc_id, lang, n_chars,
             md5('wsample|' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents WHERE n_chars > 0
    )
  )
)
WHERE rn <= {SAMPLE_W_K}
ORDER BY smp_rank
"""


# --- shuffle_epoch_shards: deterministic training-order shuffle ------------
# The last mile of the pipeline: turning a curated corpus into a
# training order.  At 100 TB a global sort per epoch is the wrong
# plan; the scale-honest shuffle derives BOTH the shard assignment and
# the within-shard order from one seeded md5 key, so materializing an
# epoch is a single hash shuffle (repartition on shard) plus
# sortWithinPartitions(key) -- no global coordination, and a new epoch
# is a seed change, not a data move.  This face emits the per-(epoch,
# shard) manifest certifying that order: doc/char counts plus the
# first and last doc each shard would serve (arg-min/arg-max by key --
# an aggregate, never a sort).  Two epochs are unrolled to pin that
# reshuffling changes the order (boundary docs) while the shard
# histogram stays hash-balanced.  Keys are full 32-hex md5 strings:
# collision-free in practice and string-ordered identically by both
# engines, so first/last are deterministic cross-engine.

N_EPOCH_SHARDS = 8
SHUFFLE_EPOCHS = (1, 2)


def shuffle_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = (
        docs.withColumn(
            "epoch",
            F.explode(F.array(*[F.lit(e).cast("long")
                                for e in SHUFFLE_EPOCHS])))
        .withColumn(
            "k",
            F.md5(F.concat(F.lit("epoch"), F.col("epoch").cast("string"),
                           F.lit("|"), F.col("doc_id").cast("string"))))
        .withColumn(
            "shard",
            F.expr(_dd.hexval_spark_sql("k")) % N_EPOCH_SHARDS)
    )
    return (
        keyed.groupBy("epoch", "shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.min_by("doc_id", "k").alias("first_doc"),
             F.max_by("doc_id", "k").alias("last_doc"))
        .select("epoch", "shard", "n_docs",
                F.col("total_chars").cast("long").alias("total_chars"),
                "first_doc", "last_doc")
        .coalesce(1).orderBy("epoch", "shard")
    )


SHUFFLE_EPOCH_SQL = f"""
WITH keyed AS (
  SELECT e.epoch, d.doc_id, d.n_chars,
         md5('epoch' || CAST(e.epoch AS VARCHAR) || '|'
             || CAST(d.doc_id AS VARCHAR)) AS k
  FROM documents d
  CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) AS e(epoch)
), sharded AS (
  SELECT epoch, doc_id, n_chars, k,
         ({_dd.hexval_sql("k")}) % {N_EPOCH_SHARDS} AS shard
  FROM keyed
)
SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       arg_min(doc_id, k) AS first_doc, arg_max(doc_id, k) AS last_doc
FROM sharded GROUP BY epoch, shard ORDER BY epoch, shard
"""


# --- group-holdout split: leakage-safe train/val/test ----------------------
# split_assign buckets per DOCUMENT; for eval integrity the unit of
# assignment must often be the GROUP (a web domain, a repository, a
# book) so near-duplicate siblings cannot straddle the train/test
# boundary.  Group holdout = the same coordination-free md5 bucket
# computed on the group key instead of the row key: every doc of a
# source inherits its source's split, still pure map-side (the split
# is a scalar function of a column -- no per-group shuffle to decide
# it, so adding docs OR whole new sources never reassigns anything).
# The face emits the per-split census (sources, docs, chars) plus a
# LEAKAGE CENSUS computed from the doc-level data -- sources observed
# in more than one split (structurally zero here, but the census is
# the audit a pipeline runs over ANY claimed group-safe split column,
# and it rides one extra hash aggregate + a broadcast 1-row join, the
# repo's constant-side crossJoin discipline).

def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d = docs.withColumn(
        "hx", F.md5(F.concat(F.lit("holdout|"), F.col("source"))))
    bucket = F.expr(f"({_dd.hexval_spark_sql('hx')}) % 10")
    d = d.withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test"))
    leak = (
        d.groupBy("source")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(F.sum((F.col("ns") > 1).cast("long")).alias("leaked_sources"))
    )
    return (
        d.groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leak))
        .coalesce(1).orderBy("split")
    )


SPLIT_GROUP_SQL = f"""
WITH s AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN b < 8 THEN 'train'
              WHEN b < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, source, n_chars, (({_dd.hexval_sql('hx')}) % 10) AS b
    FROM (SELECT doc_id, source, n_chars,
                 md5('holdout|' || source) AS hx
          FROM documents)
  )
), leak AS (
  SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_sources
  FROM (SELECT source, COUNT(DISTINCT split) AS ns FROM s GROUP BY source)
)
SELECT split,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       leaked_sources
FROM s CROSS JOIN leak
GROUP BY split, leaked_sources
ORDER BY split
"""


QUERIES = {
    "dedup_clusters": dedup_clusters,
    "sample_weighted": sample_weighted,
    "dedup_purge_canonical": dedup_purge_canonical,
    "split_assign": split_assign,
    "split_group_holdout": split_group_holdout,
    "contamination_check": contamination_check,
    "sample_stratified": sample_stratified,
    "sketch_distinct_tokens": sketch_distinct_tokens,
    "doc_length_quantiles": doc_length_quantiles,
    "shuffle_epoch_shards": shuffle_epoch_shards,
    "sketch_heavy_hitters": sketch_heavy_hitters,
}

ORACLES = {
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "sample_weighted": SAMPLE_WEIGHTED_SQL,
    "dedup_purge_canonical": DEDUP_PURGE_SQL,
    "split_assign": SPLIT_ASSIGN_SQL,
    "split_group_holdout": SPLIT_GROUP_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sketch_distinct_tokens": SKETCH_DISTINCT_SQL,
    "doc_length_quantiles": DOC_LENGTH_QUANTILES_SQL,
    "shuffle_epoch_shards": SHUFFLE_EPOCH_SQL,
    "sketch_heavy_hitters": SKETCH_CMS_SQL,
}
