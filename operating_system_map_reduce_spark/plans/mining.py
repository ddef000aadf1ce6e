"""Sequence/series mining and corpus-statistics query plans (round 5).

Beyond-reference tier (SURVEY.md section 2.5 taxonomy): the analytics a
training-data/observability pipeline runs on top of the engine's event
and document tables -- time-series gap filling, robust outlier
detection, sequential path mining, asymmetric containment dedup, and
collocation (PMI) extraction.  All five are oracle-gated; every plan is
shuffle-keyed (never all-pairs) and keeps Python out of the hot path.

Scale notes (100 TB stance):
 - gap fill materializes a per-user hour grid with ``sequence`` +
   ``explode`` -- grid size is span/step per user (bounded by the
   retention window a real deployment configures), and the LOCF window
   shuffles once on user_id.
 - MAD uses exact ``percentile`` (memory ~ distinct values per group,
   here a 2-decimal grid); at open-ended scale the one-line swap is
   ``percentile_approx``, trading the oracle's exactness for sketches.
 - containment reuses the inverted-index shingle join: shuffle key is
   the shingle, candidate space sum-over-shingles(freq^2), never n^2.
 - PMI joins bigram counts to the unigram table twice; the vocabulary
   and item-support tables carry NO broadcast hint (AQE auto-broadcasts
   them at test SFs and falls back to a keyed shuffle join at corpus
   scale -- a hard hint would never degrade).  Only provably-1-row
   totals are hint-broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.operators import dedup as _dd
from operating_system_map_reduce_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- events_gap_fill: resample + last-observation-carried-forward ----------
# Per (user, hour) the LAST observed value (row selection via struct
# max -- ts then event_id break ties, value never decides); the hour
# grid spans each user's [first, last] observed hour; missing hours are
# forward-filled inside the per-user LOCF window.  Output is the
# per-user fill census (grid size, observed/filled split, LOCF sum) so
# the filled VALUES are hash-checked through the sum while the result
# stays |users|-sized.
#
# Grid bound (round-6): the per-user grid is span/step rows, and an
# unbounded span is a latent blowup at 100 TB (one user with a 10-year
# [first, last] extent explodes to 87k rows).  ``max_span_hours`` caps
# the grid to the most recent N hours per user (retention-window
# semantics: h0 is clamped to h1 - (N-1) hours; observations older than
# the clamped start simply fall outside the grid, so LOCF never carries
# a value in from beyond the window).  Round-7: the oracled/registered
# query runs WITH the cap (GAP_FILL_SPAN_HOURS = 168, one week) and the
# oracle SQL mirrors the clamp -- the configuration that survives a
# 100 TB replay is the one the gate verifies.  ``max_span_hours=None``
# remains available for the exact unbounded semantics.

_GF_H = 3_600_000_000  # 1 hour in microseconds
GAP_FILL_SPAN_HOURS = 168  # verified retention window: 7 days of hours


def _gap_fill_census(ev: DataFrame, max_span_hours: int | None = None) -> DataFrame:
    """LOCF fill census over an events-shaped DF
    (user_id, ts_us, event_id, value)."""
    from pyspark.sql.window import Window

    hour = (F.col("ts_us") - F.col("ts_us") % _GF_H).alias("h")
    pick = F.struct(F.col("ts_us").alias("t"), F.col("event_id").alias("e"),
                    F.col("value").alias("v"))
    obs = (ev.select("user_id", hour, pick.alias("s"))
           .groupBy("user_id", "h")
           .agg(F.max("s").getField("v").alias("lv")))
    span = obs.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    if max_span_hours is not None:
        span = span.withColumn(
            "h0",
            F.greatest(
                F.col("h0"),
                F.col("h1") - F.lit((max_span_hours - 1) * _GF_H).cast("long")))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.lit(_GF_H).cast("long"))).alias("h"),
    )
    w = (Window.partitionBy("user_id").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = (grid.join(obs, ["user_id", "h"], "left")
              .withColumn("v_locf", F.last("lv", ignorenulls=True).over(w)))
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.count("lv").alias("n_observed"),
            (F.count(F.lit(1)) - F.count("lv")).alias("n_filled"),
            F.round(F.sum("v_locf"), 6).alias("sum_value_locf"),
        )
        .orderBy("user_id")
    )


def events_gap_fill(spark: SparkSession, sf_dir: str,
                    max_span_hours: int | None = GAP_FILL_SPAN_HOURS) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts_us", "event_id", "value")
    return _gap_fill_census(ev, max_span_hours)


EVENTS_GAP_FILL_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
), obs AS (
  SELECT user_id, h, lv FROM (
    SELECT user_id, (ts_us // {_GF_H}) * {_GF_H} AS h, value AS lv,
           ROW_NUMBER() OVER (PARTITION BY user_id, (ts_us // {_GF_H}) * {_GF_H}
                              ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
), span AS (
  -- same 168-hour retention clamp as the Spark plan: the grid covers at
  -- most the most recent week per user
  SELECT user_id,
         GREATEST(MIN(h), MAX(h) - {(GAP_FILL_SPAN_HOURS - 1) * _GF_H}) AS h0,
         MAX(h) AS h1
  FROM obs GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, {_GF_H})) AS h FROM span
), filled AS (
  SELECT g.user_id, o.lv,
         last_value(o.lv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
)
SELECT user_id, COUNT(*) AS n_hours, COUNT(lv) AS n_observed,
       COUNT(*) - COUNT(lv) AS n_filled,
       ROUND(SUM(v_locf), 6) AS sum_value_locf
FROM filled GROUP BY user_id ORDER BY user_id
"""


# --- events_anomaly_mad: robust outlier census per event type --------------
# Median absolute deviation: med = median(value), mad = median(|value -
# med|), outlier iff |value - med| > 3*mad.  Two exact percentile
# aggregates; the 5-row med/mad tables broadcast back to the fact scan.
# Both engines interpolate medians as lo + frac*(hi - lo) over identical
# doubles; the outlier comparison uses ROUND(...,6) on BOTH sides so a
# last-ulp interpolation difference cannot flip a boundary row.

def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    outlier = F.round(F.col("adev"), 6) > F.round(F.col("mad") * 3, 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.when(outlier, 1)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


EVENTS_ANOMALY_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, COUNT(*) AS n_events,
       ROUND(MIN(d.med), 6) AS med,
       ROUND(MIN(t.mad), 6) AS mad,
       COUNT(CASE WHEN ROUND(d.adev, 6) > ROUND(t.mad * 3, 6) THEN 1 END)
         AS n_outliers
FROM dev d JOIN mad t ON d.event_type = t.event_type
GROUP BY d.event_type ORDER BY d.event_type
"""


# --- events_user_paths: sequential trigram path mining ---------------------
# The top event-type trigrams across per-user ordered event streams
# (the "common user journeys" query).  lead() runs inside the per-user
# sorted window -- one shuffle on user_id; path cardinality is
# |types|^3, never row count.  ORDER BY (count DESC, path ASC) is a
# total order, so LIMIT cuts identically on both engines.

def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    paths = (
        ev.withColumn("t1", F.lead("event_type", 1).over(w))
        .withColumn("t2", F.lead("event_type", 2).over(w))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(F.concat_ws(">", "event_type", "t1", "t2").alias("path"))
    )
    return (paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_paths"))
            .orderBy(F.desc("n_paths"), "path").limit(20))


EVENTS_USER_PATHS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
), p AS (
  SELECT event_type || '>' || LEAD(event_type, 1) OVER w
         || '>' || LEAD(event_type, 2) OVER w AS path
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT path, COUNT(*) AS n_paths
FROM p WHERE path IS NOT NULL
GROUP BY path ORDER BY n_paths DESC, path LIMIT 20
"""


# --- dedup_containment: asymmetric near-subset detection -------------------
# Containment C(A,B) = |A inter B| / |A| >= 0.8: catches quotes and
# near-subsets that symmetric Jaccard misses (a small doc embedded in a
# big one has high containment but low Jaccard).  Inverted-index join
# on the shingle (same machinery as dedup_ngram_jaccard); DIRECTED
# pairs, so both (a-in-b) and (b-in-a) can emit.  Length filter:
# |A inter B| <= |B|, so C >= t forces |B| >= t*|A| -- pruned in the
# join condition with exact integer arithmetic.
#
# Why the count-join and not a prefix filter: a containment-adapted
# asymmetric prefix filter cuts candidate join rows 9.6x (1.73M ->
# 181k at sf0.1), but its verify then pays candidates x array payload
# through the pair-key exchange -- at sf10 ~35 GB of shingle strings
# (string-array verify 222 s vs this count-join 204 s in the same
# session; the count-join also wins at sf1 and sf0.1).  The
# count-join's verify moves only narrow (id_a, id_b, n_a) rows into a
# map-side-combining hash aggregate, and its candidate volume is
# replica-linear.  Full account: SCALING.md round-12.

def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-join over the at-rest shingle-bucketed postings table
    (pipeline.bucketed_postings): the self-join is co-bucketed on the
    shingle, zero-exchange, no Python stage.

    No join hint: a SHUFFLE_HASH pin ran 1.7x faster at sf10 (37.1 vs
    64.2 s) but at sf100 dies with SparkOutOfMemoryError("not enough
    memory to build hash map") -- the per-task hash relation holds one
    BUCKET of postings, bucket size grows linearly with the corpus,
    and the SHJ build side cannot spill.  The unpinned plan is the
    exchange-free SortMergeJoin of two bucketed scans, whose bucket
    sorts spill gracefully and scale (SCALING.md round-13)."""
    from operating_system_map_reduce_spark.plans.pipeline import (
        bucketed_postings)

    ex = bucketed_postings(spark, sf_dir)
    a = ex.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), "s")
    b = ex.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"),
                  F.col("s").alias("s_b"))
    inter = (
        a.join(b, (F.col("s") == F.col("s_b")) & (F.col("id_a") != F.col("id_b"))
               & (F.col("n_b") * F.lit(5) >= F.col("n_a") * F.lit(4)))
        .groupBy("id_a", "id_b", "n_a")
        .agg(F.count(F.lit(1)).cast("double").alias("inter"))
    )
    return (
        inter.withColumn(
            "containment", F.round(F.col("inter") / F.col("n_a"), 6))
        # filter the ROUNDED value so the predicate matches the oracle's
        # (which filters its own ROUND(..., 6) output) bit-for-bit at the
        # 0.8 boundary
        .filter(F.col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
        .orderBy("id_a", "id_b")
    )


DEDUP_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents
  ) WHERE len(toks) >= 3
)
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
           AS containment
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id AND len(b.sh) * 5 >= len(a.sh) * 4
) WHERE containment >= 0.8
ORDER BY id_a, id_b
"""


# --- tokens_pmi_bigrams: collocation extraction ----------------------------
# Pointwise mutual information over adjacent token bigrams:
# pmi = ln( P(w1 w2) / (P(w1) P(w2)) ), min bigram count 5, top 20 by
# (rounded pmi DESC, bigram ASC) -- rounding first makes the sort key
# identical across engines despite last-ulp ln() differences.  Bigram
# and unigram counts are two hash aggregates; totals ride along as
# 1-row cross joins (broadcast), never a driver collect.  The product
# is evaluated left-to-right in DOUBLE on both engines.

def tokens_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
        .alias("toks"))
    uni = toks.select(F.explode("toks").alias("w"))
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS w1,"
                "             element_at(toks, i + 1) AS w2))"
            )).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    totals = (uc.agg(F.sum("uc").alias("nu"))
              .crossJoin(bg.agg(F.count(F.lit(1)).alias("nb"))))
    bc = (bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
          .filter(F.col("bc") >= 5))
    u1 = uc.select(F.col("w").alias("w1"), F.col("uc").alias("uc1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("uc").alias("uc2"))
    pmi = F.log(
        (F.col("bc").cast("double") * F.col("nu") * F.col("nu"))
        / (F.col("nb").cast("double") * F.col("uc1") * F.col("uc2"))
    )
    # No explicit broadcast hint on the unigram-count sides: vocabulary
    # grows with the corpus, so a forced broadcast would not degrade at
    # scale -- AQE/auto-broadcast picks broadcast vs shuffle by measured
    # size.  The totals cross join stays hinted: always exactly 1 row.
    return (
        bc.join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("bc").alias("n_pairs"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


TOKENS_PMI_SQL = """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents
), uni AS (
  SELECT unnest(toks) AS w FROM toks
), bg AS (
  SELECT p.w1, p.w2 FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
    FROM toks WHERE len(toks) >= 2
  )
), uc AS (
  SELECT w, COUNT(*) AS uc FROM uni GROUP BY w
), totals AS (
  SELECT (SELECT CAST(SUM(uc) AS BIGINT) FROM uc) AS nu,
         (SELECT COUNT(*) FROM bg) AS nb
), bc AS (
  SELECT w1, w2, COUNT(*) AS bc FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5
)
SELECT bc.w1 || ' ' || bc.w2 AS bigram,
       bc.bc AS n_pairs,
       ROUND(LN((CAST(bc.bc AS DOUBLE) * t.nu * t.nu)
                / (CAST(t.nb AS DOUBLE) * u1.uc * u2.uc)), 6) AS pmi
FROM bc
JOIN uc u1 ON bc.w1 = u1.w
JOIN uc u2 ON bc.w2 = u2.w
CROSS JOIN totals t
ORDER BY pmi DESC, bigram LIMIT 20
"""


# --- dedup_graph_triangles: clustering structure of the near-dup graph ----
# Triangle census over the Jaccard>=0.2 near-dup pair graph: edge count,
# open-wedge count (sum over nodes of C(deg,2)), triangle count, and
# the global clustering coefficient 3*T/W.  Triangles enumerate via the
# ORIENTED join (all edges stored a<b): (a,b)x(b,c) wedges semi-joined
# against the edge set -- each triangle found exactly once, candidate
# space sum-over-nodes(out-deg^2), never |V|^2.  On a 100 TB near-dup
# graph this is the standard degree-oriented distributed triangle
# count (the orientation bounds out-degree by sqrt(2|E|) after the
# usual high-degree split).  The census is the dedup-quality signal:
# high clustering = template families, low = chain-shaped drift.

def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.plans.pipeline import bucketed_edges

    # the census reads the edge set six ways (degrees twice, both join
    # sides, the semi-join target, the count); every reference is a
    # scan of the at-rest b_edge table (round 13 -- replaced the
    # localCheckpoint whose ContextCleaner cadence swung graph timings
    # ~2x run-to-run; see bucketed_edges' account)
    edges = bucketed_edges(spark, sf_dir)
    deg = (edges.select(F.col("id_a").alias("v"))
           .unionAll(edges.select(F.col("id_b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    tri = (e1.join(e2, "b")
           .join(edges, (F.col("a") == F.col("id_a")) & (F.col("c") == F.col("id_b")),
                 "left_semi")
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges).crossJoin(tri)
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.round(
                F.when(F.col("n_wedges") > 0,
                       F.col("n_triangles") * 3.0 / F.col("n_wedges"))
                .otherwise(F.lit(0.0)), 6).alias("clustering"),
        )
    )


# edges is referenced up to 6x downstream (degrees, both join sides,
# the semi-join target, counts / unrolled PageRank iterations); without
# MATERIALIZED DuckDB re-evaluates the quadratic shingle join per
# reference (pagerank oracle 23.8 s -> 5.5 s, triangles 16.0 -> 5.4 s
# at sf0.01)
_NGRAM_PAIRS_CTE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents
  ) WHERE len(toks) >= 3
), edges AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
)
"""

DEDUP_TRIANGLES_SQL = _NGRAM_PAIRS_CTE + """
, deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT id_a AS v FROM edges UNION ALL SELECT id_b AS v FROM edges
  ) GROUP BY v
), wedges AS (
  SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
         COUNT(*) AS n_nodes
  FROM deg
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1 JOIN edges e2 ON e1.id_b = e2.id_a
  WHERE EXISTS (SELECT 1 FROM edges e3
                WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
), ecnt AS (
  SELECT COUNT(*) AS n_edges FROM edges
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       ROUND(CASE WHEN n_wedges > 0
                  THEN n_triangles * 3.0 / n_wedges ELSE 0.0 END, 6)
         AS clustering
FROM ecnt CROSS JOIN wedges CROSS JOIN tri
"""


# --- token_bpe_pretokenize: GPT-2-style pre-tokenizer census ---------------
# The BPE PRE-tokenization pass every modern tokenizer runs before
# merges: contraction suffixes, space-prefixed letter/digit runs,
# punctuation runs, whitespace runs.  Both engines evaluate the SAME
# pattern (Java regex and RE2 agree on this subset -- \\p{L}/\\p{N}
# classes and alternation; equality verified exhaustively at sf0.01
# before adoption).  Per doc: piece count and distinct-piece count --
# the fertility statistics a tokenizer-aware curation pass filters on.
# Map-side only; no shuffle before the final orderBy.

BPE_PRETOKEN_PAT = (
    r"""'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""
)


def token_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pieces = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PAT), F.lit(0))
    return (
        docs.select(
            "doc_id",
            F.size(pieces).alias("n_pieces"),
            F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
        )
        .orderBy("doc_id")
    )


TOKEN_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{BPE_PRETOKEN_PAT.replace("'", "''")}'))
         AS n_pieces,
       len(list_distinct(regexp_extract_all(text, '{BPE_PRETOKEN_PAT.replace("'", "''")}')))
         AS n_distinct_pieces
FROM documents
ORDER BY doc_id
"""


# --- bpe_merge_pairs: one BPE vocabulary-training merge round --------------
# The inner loop of byte-pair-encoding training: count adjacent symbol
# pairs across the corpus (symbols start as characters) weighted by
# word frequency, and rank merge candidates.  The canonical
# tokenizer-training shape at 100 TB: the pair census runs over the
# DISTINCT VOCABULARY (|vocab| rows, each carrying its corpus
# frequency), never over raw text -- one word-count hash agg over the
# corpus, then a map-side pair explode of the vocab and a second
# vocab-sized hash agg.  Corpus size only enters through the first
# aggregate.  Output: top 20 merge candidates by (weighted count DESC,
# pair ASC).

def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
    ).alias("w"))
    wc = (words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
          .filter(F.length("w") >= 2))
    pairs = wc.select(
        "f",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"),
    )
    return (
        pairs.groupBy("pair").agg(F.sum("f").alias("n_merge"))
        .orderBy(F.desc("n_merge"), "pair")
        .limit(20)
    )


BPE_MERGE_SQL = """
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents
), words AS (
  SELECT unnest(toks) AS w FROM toks
), wc AS (
  SELECT w, COUNT(*) AS f FROM words GROUP BY w
), pairs AS (
  SELECT f,
         unnest(list_transform(range(1, len(w)),
                               i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
  FROM wc WHERE len(w) >= 2
)
SELECT pair, CAST(SUM(f) AS BIGINT) AS n_merge
FROM pairs GROUP BY pair
ORDER BY n_merge DESC, pair
LIMIT 20
"""


# --- token_bpe_trained: N full BPE training merge rounds --------------------
# bpe_merge_pairs above is ONE census (the inner loop); this face TRAINS:
# N_BPE_MERGES rounds of census -> argmax pair -> apply-merge-to-vocab,
# the loop a tokenizer trainer actually runs (reference anchor: the KMR
# iterate-all-pairs / fold-globally pattern, p5/server/my_storage.cc:
# 269-415; algorithm: Sennrich et al. 2016, arXiv:1508.07909).  The
# deterministic-Lloyd precedent (trained IVF-PQ, commit 8223c65) applies:
# a FIXED-iteration training loop is SQL-expressible, so the DuckDB
# oracle replays the identical N rounds and the driver hash-checks the
# learned merge table end-to-end.
#
# Scale shape (100 TB): corpus size enters ONLY through the first
# word-count aggregate (one hash agg over the token stream, map-side
# partial).  Every merge round then runs on the DISTINCT VOCABULARY
# (|V| rows): a map-side pair explode (bounded by word length), a
# vocab-sized hash agg, a 1-row argmax attached by broadcast, and a
# map-side fold that rewrites each word's symbol string.  No round
# shuffles anything corpus-sized; the vocab table is localCheckpointed
# once so the N unioned merge branches do not re-run the corpus scan.
#
# Apply-merge semantics (both engines, same recurrence): left-to-right
# non-overlapping -- fold symbols with a string accumulator; merge when
# the accumulator's LAST symbol == a and the next symbol == b, else
# append.  The merged token ab can never equal a (b is non-empty), so a
# token created by this round's merge never chains as the left operand
# within the same round -- exactly the classic i+=2 scan.  Ties in the
# census argmax break by (count DESC, a ASC, b ASC) on both engines.

N_BPE_MERGES = 5


def _bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")
    ).alias("w"))
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))


def _bpe_pair_census(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair census over (f, s) where s is the word's
    space-joined symbol string -- map-side explode, vocab-sized agg.
    Single-symbol words (fully merged, or 1-char to begin with) have no
    pairs and MUST be filtered before the sequence: sequence(1, 0)
    DESCENDS in Spark ([1, 0]), driving element_at out of bounds."""
    pairs = vocab.filter(F.size(F.split("s", " ")) >= 2).select(
        "f",
        F.explode(F.expr(
            "transform(sequence(1, size(split(s, ' ')) - 1),"
            " i -> struct(element_at(split(s, ' '), i) AS a,"
            "             element_at(split(s, ' '), i + 1) AS b))"
        )).alias("p"),
    ).select("f", "p.a", "p.b")
    return pairs.groupBy("a", "b").agg(F.sum("f").alias("n_merge"))


def _bpe_apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every word's symbol string under the 1-row merge (a, b):
    broadcast-attach the pair, fold left-to-right non-overlapping."""
    folded = F.expr(
        "aggregate(split(s, ' '), '', (acc, x) ->"
        " CASE WHEN acc != '' AND regexp_extract(acc, '[^ ]+$', 0) = a"
        "           AND x = b"
        "      THEN concat(regexp_replace(acc, '[^ ]+$', ''), a, b)"
        "      WHEN acc = '' THEN x"
        "      ELSE concat(acc, ' ', x) END)")
    return (vocab.crossJoin(F.broadcast(best.select("a", "b")))
            .select("w", "f", folded.alias("s")))


def bpe_train(vocab: DataFrame, n_merges: int = N_BPE_MERGES) -> DataFrame:
    """The trainer core over a (w, f, s) vocabulary frame: n_merges
    rounds of census -> argmax -> apply, returning the ranked merge
    table.  Differentially tested against a pure-Python reference BPE
    in tests/test_mining_property.py; the documents face below and its
    unrolled DuckDB oracle ride the same recurrence."""
    vocab = vocab.localCheckpoint(eager=False)
    merges = []
    for rank in range(1, n_merges + 1):
        best = (_bpe_pair_census(vocab)
                .orderBy(F.desc("n_merge"), "a", "b").limit(1)
                .localCheckpoint(eager=False))
        merges.append(best.select(
            F.lit(rank).cast("long").alias("merge_rank"), "a", "b",
            F.concat("a", "b").alias("merged"), "n_merge"))
        if rank < n_merges:
            vocab = _bpe_apply_merge(vocab, best).localCheckpoint(eager=False)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("merge_rank")


def token_bpe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocab-sized after the first aggregate; bpe_train checkpoints it so
    # the N merge branches do not each re-run the corpus word-count
    vocab = _bpe_word_counts(spark, sf_dir).select(
        "w", "f",
        F.expr("array_join(filter(split(w, ''), c -> c <> ''), ' ')")
        .alias("s"))
    return bpe_train(vocab, N_BPE_MERGES)


def _bpe_cte_chain(through_final_vocab: bool) -> list:
    """The unrolled training WITH-chain shared by the merge-table
    oracle (BPE_TRAINED_SQL) and the encode oracle (BPE_ENCODE_SQL):
    census_r -> best_r (argmax) -> v_r (fold-applied vocab), same
    recurrence as the Spark fold.  With through_final_vocab the v_r
    chain extends one more step to v{N_BPE_MERGES} -- the vocabulary
    state AFTER the last merge, which is what encode applies to the
    corpus; with False the emitted chain is byte-identical to the
    pre-refactor builder (BPE_TRAINED_SQL md5
    d6388d068e587aabc78ab1263fa0bf34 before and after)."""
    parts = ["""
wc AS (
  SELECT w, COUNT(*) AS f FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS w
    FROM documents
  ) GROUP BY w
),
v0 AS (
  SELECT w, f,
         array_to_string(list_transform(range(1, length(w) + 1),
                                        i -> substring(w, CAST(i AS INTEGER), 1)),
                         ' ') AS s
  FROM wc
)"""]
    for r in range(1, N_BPE_MERGES + 1):
        prev = f"v{r - 1}"
        parts.append(f"""
c{r} AS (
  SELECT a, b, CAST(SUM(f) AS BIGINT) AS n_merge FROM (
    SELECT f, p.a AS a, p.b AS b FROM (
      SELECT f, unnest(list_transform(range(1, len(string_split(s, ' '))),
                       i -> {{'a': string_split(s, ' ')[CAST(i AS INTEGER)],
                              'b': string_split(s, ' ')[CAST(i AS INTEGER) + 1]}})) AS p
      FROM {prev}
    )
  ) GROUP BY a, b
),
b{r} AS (SELECT a, b, n_merge FROM c{r} ORDER BY n_merge DESC, a, b LIMIT 1)""")
        if r < N_BPE_MERGES or through_final_vocab:
            parts.append(f"""
v{r} AS (
  SELECT w, f, list_reduce(string_split(s, ' '), (acc, x) ->
    CASE WHEN regexp_extract(acc, '[^ ]+$') = b{r}.a AND x = b{r}.b
         THEN regexp_replace(acc, '[^ ]+$', '') || b{r}.a || b{r}.b
         ELSE acc || ' ' || x END) AS s
  FROM {prev}, b{r}
)""")
    return parts


def _bpe_trained_sql() -> str:
    parts = _bpe_cte_chain(through_final_vocab=False)
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, a || b AS merged,"
        f" n_merge FROM b{r}" for r in range(1, N_BPE_MERGES + 1))
    return ("WITH " + ",".join(parts)
            + f"\nSELECT * FROM (\n{arms}\n) ORDER BY merge_rank")


BPE_TRAINED_SQL = _bpe_trained_sql()

# Registered round 11 (was the round-10 PENDING_R11 queue while the
# registry sat frozen at 138 for the recovery round): the entry lives
# in QUERIES/ORACLES below; the mechanical window seats it via rule 1
# (never driver-green) until its first CORRECTNESS row lands.


# --- token_bpe_encode: APPLY the trained tokenizer to the corpus -----------
# token_bpe_trained learns the merge table; this face runs the step a
# production pipeline actually ships -- ENCODE every document under the
# learned vocabulary -- and reports the per-doc BPE token count next to
# the whitespace word count (the corpus compression census that decides
# whether a tokenizer is worth deploying).
#
# Scale shape (100 TB): training cost is vocab-sized as before (the
# final vocabulary state v_N is the same N-round fold, kept this time
# after the LAST apply).  Encoding then never touches characters
# corpus-wide: per-word BPE lengths are computed ONCE on the distinct
# vocabulary, and the corpus pass is explode(words) -> one word-keyed
# equi-join -> per-doc hash agg.  The vocab side GROWS with the corpus,
# so it carries no broadcast hint -- AQE picks the join strategy (the
# round-7 lesson).  Oracle: the shared unrolled CTE chain extended to
# v{N}, then the identical join+agg in DuckDB.

def _bpe_final_vocab(spark: SparkSession, sf_dir: str,
                     n_merges: int = N_BPE_MERGES) -> DataFrame:
    """The (w, f, s) vocabulary AFTER all n_merges applies (bpe_train
    keeps the merge TABLE and skips the last apply; encode needs the
    final vocab state)."""
    vocab = _bpe_word_counts(spark, sf_dir).select(
        "w", "f",
        F.expr("array_join(filter(split(w, ''), c -> c <> ''), ' ')")
        .alias("s")).localCheckpoint(eager=False)
    for _ in range(n_merges):
        best = (_bpe_pair_census(vocab)
                .orderBy(F.desc("n_merge"), "a", "b").limit(1)
                .localCheckpoint(eager=False))
        vocab = _bpe_apply_merge(vocab, best).localCheckpoint(eager=False)
    return vocab


def token_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    wtok = _bpe_final_vocab(spark, sf_dir).select(
        "w", F.size(F.split("s", " ")).cast("long").alias("n_tok"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select("doc_id", F.explode(F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    )).alias("w"))
    return (words.join(wtok, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_tok").alias("n_bpe_tokens"))
            .orderBy("doc_id"))


def _bpe_encode_sql() -> str:
    n = N_BPE_MERGES
    parts = _bpe_cte_chain(through_final_vocab=True)
    return ("WITH " + ",".join(parts) + f""",
wtok AS (
  SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok FROM v{n}
),
dw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS w
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
FROM dw JOIN wtok USING (w)
GROUP BY doc_id ORDER BY doc_id
""")


BPE_ENCODE_SQL = _bpe_encode_sql()
# Queued round 11 under the two-round pattern (implement + locally
# oracle-gate while the window is spoken for), REGISTERED round 12 in
# QUERIES/ORACLES below -- window rule 1 seats it as never-driver-green.


# --- profile_orders: one-pass data-profiling operator ----------------------
# The schema-quality census every ingestion pipeline runs: per column
# the row count, null count, and exact distinct count -- computed in
# ONE aggregate over ONE scan (Spark plans the multiple COUNT
# DISTINCTs via a single Expand, not one scan per column), then
# reshaped long with stack().  The oracle spells the same numbers as
# per-column UNION ALL arms.  String-typed min/max are deliberately
# omitted: double-to-string rendering differs across engines
# (1.0E7 vs 10000000.0) and has no profiling value.

_PROFILE_COLS = ["o_custkey", "o_orderdate", "o_orderkey",
                 "o_orderpriority", "o_orderstatus", "o_totalprice"]


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS)
    return (
        wide.select(
            "n_rows",
            F.expr(f"stack({len(_PROFILE_COLS)}, {stack_args})")
            .alias("col_name", "n_nulls", "n_distinct"),
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("col_name")
    )


PROFILE_ORDERS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct FROM orders"""
    for c in _PROFILE_COLS
) + "\nORDER BY col_name"


# --- events_type_unpivot: melt (wide-to-long) round trip -------------------
# The inverse reshaping face of events_type_pivot: the per-user count
# matrix unpivots back to (user_id, event_type, n) with unpivot()/melt
# -- one narrow Expand, no extra shuffle -- and must reproduce the
# plain long-form GROUP BY (zero cells dropped, matching the absent
# rows of the long form).  Pivot and melt composing to the identity is
# the reshaping tier's correctness statement.

def events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.plans.analytics import (
        _PIVOT_TYPES, events_type_pivot,
    )

    wide = events_type_pivot(spark, sf_dir).drop("total")
    return (
        wide.unpivot("user_id", _PIVOT_TYPES, "event_type", "n")
        .filter(F.col("n") > 0)
        .orderBy("user_id", "event_type")
    )


# restricted to the pivot's PINNED types: a future testdata generation
# with a sixth type must not add oracle rows the unpivot of the pinned
# matrix cannot produce
EVENTS_UNPIVOT_SQL = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events
WHERE event_type IN ('click','error','purchase','signup','view')
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# --- embedding_label_centroids: vector aggregation + cohesion --------------
# Per-label centroid (the mean vector) and intra-class cosine cohesion
# -- the class-separability census run before training a classifier on
# labeled embeddings.  The vector algebra runs LONG-FORM: posexplode to
# (vec, dim, value), centroid = avg per (label, dim) -- shuffle keyed
# on (label, dim), cardinality |labels| x dim, never row count -- then
# one keyed join back computes each vector's dot/norm against its
# centroid.  Long-form keeps every sum a plain hash aggregate (no
# per-row array UDFs) and scales to any dim; ROUND(...,6) guards the
# float accumulation order on both engines.

def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    d = emb.select(
        "label", "vec_id",
        F.posexplode("embedding").alias("ord", "valf"),
    ).select("label", "vec_id", "ord", F.col("valf").cast("double").alias("val"))
    cent = d.groupBy("label", "ord").agg(F.avg("val").alias("c"))
    cnorm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn"))
    per_vec = (
        d.join(cent, ["label", "ord"])
        .groupBy("label", "vec_id")
        .agg(F.sum(F.col("val") * F.col("c")).alias("dot"),
             F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn"))
    )
    # NULL for zero-norm vectors (cosine undefined; avg/min skip NULLs)
    cos = F.when(F.col("vn") > 0,
                 F.col("dot") / (F.col("vn") * F.col("cn")))
    return (
        per_vec.join(cnorm, "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(cos), 6).alias("avg_cos"),
            F.round(F.min(cos), 6).alias("min_cos"),
            F.round(F.max("cn"), 6).alias("centroid_norm"),
        )
        .orderBy("label")
    )


EMBEDDING_CENTROIDS_SQL = """
WITH d AS (
  SELECT label, vec_id, CAST(embedding[i] AS DOUBLE) AS val, i AS ord
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
  SELECT label, ord, AVG(val) AS c FROM d GROUP BY label, ord
), cnorm AS (
  SELECT label, SQRT(SUM(c*c)) AS cn FROM cent GROUP BY label
), per_vec AS (
  SELECT d.label, d.vec_id,
         SUM(d.val * cent.c) AS dot, SQRT(SUM(d.val * d.val)) AS vn
  FROM d JOIN cent ON d.label = cent.label AND d.ord = cent.ord
  GROUP BY d.label, d.vec_id
)
SELECT p.label, COUNT(*) AS n_vecs,
       ROUND(AVG(CASE WHEN p.vn > 0 THEN p.dot / (p.vn * c.cn) END), 6) AS avg_cos,
       ROUND(MIN(CASE WHEN p.vn > 0 THEN p.dot / (p.vn * c.cn) END), 6) AS min_cos,
       ROUND(MAX(c.cn), 6) AS centroid_norm
FROM per_vec p JOIN cnorm c ON p.label = c.label
GROUP BY p.label ORDER BY p.label
"""


# --- fuzzy_part_match: blocked edit-distance entity matching ---------------
# The fuzzy-join face: near-duplicate part names by Levenshtein
# distance <= 1 (exact dup or one edit), BLOCKED on (brand, trailing
# noun, LENGTH BAND).  Distance <= 1 forces |len_a - len_b| <= 1, so
# the band is lossless for the match columns; it exists to kill the
# in-block quadratic (round-5 SCALING finding: (brand, noun)-only
# blocking ran 5.1x on 10x data because a hot block compares
# block_size^2 pairs; with the band a hot block only pairs names of
# near-equal length).  The band is part of the EQUI join key: the left
# side replicates each name to bands {len-1, len, len+1} and the right
# side keys by its exact length, so every |dlen|<=1 pair meets in
# EXACTLY one band (the right name's length) -- no dedup shuffle, 3x
# replication on one side only.  `n_pairs` counts the candidate pairs
# actually compared under the band; identical/one-edit counts are
# unchanged vs unblocked.  Output is the per-block census restricted
# to blocks with at least one close pair -- block-count-bounded.  Both
# engines implement unit-cost Wagner-Fischer, so distances agree.

def _banded_name_pairs(p: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b) within (p_brand, noun) blocks whose
    name lengths differ by at most 1, met via an equi-key length band.
    Input needs columns p_partkey, p_name, p_brand, noun."""
    a = p.select(
        "p_brand", "noun",
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"),
        F.explode(F.array(
            F.length("p_name") - 1, F.length("p_name"),
            F.length("p_name") + 1)).alias("band"),
    )
    b = p.select(
        "p_brand", "noun",
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"),
        F.length("p_name").alias("band"),
    )
    return (
        a.join(b, ["p_brand", "noun", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
    )


def deletion_neighborhood_pairs(p: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b) within (p_brand, noun) blocks that
    share a deletion-neighborhood key -- the SymSpell idea, and the
    LINEAR-at-scale exact path for edit distance <= 1 that the length
    band cannot give (banded candidates still grow quadratically in a
    hot same-length cell).

    Every name emits itself plus its single-character-deletion variants
    as join keys (L+1 keys for length L).  Two names at distance <= 1
    always share a key: equal names share the name; an insert/delete
    pair shares the shorter name; a substitution pair shares the
    variant deleting the differing position.  Sharing a key is
    necessary but NOT sufficient ('ab'/'ba' share 'a'), so consumers
    must verify candidates with levenshtein -- candidates are a
    superset of matches and a tiny subset of the block's pairs.
    One explode (L+1 rows/name), one equi-join on (block, key), one
    distinct on the pair: every stage linear in input + true-match
    density, never block_size^2.  Duplicate variants ('aab' emits 'ab'
    twice) dedup MAP-SIDE via array_distinct before the explode -- ids
    are unique, so per-name key dedup equals the row-level distinct
    without shuffling the keyed table (round-7 plan fix: the old
    .distinct() was a full wide exchange).

    Parallelism: the explode is distributed across cores by a
    p_partkey repartition of the INPUT rows first.  part.parquet is
    one file well under a 128 MB split even at 10x rows, so both
    explode map sides ran in ONE scan task -- a serial term a
    core-scaling probe exposed (OPTIMIZATION_r15.md SS8: at 10x part
    rows the face ran 8.4x longer and 8-vs-32-core read 1.03 -- linear
    in data, flat in cores, the single-split signature of one huge
    unsplittable input).  The repartition
    moves the NARROW pre-explode rows (1/(L+1) of the bytes the
    post-explode join exchange already shuffles), so it is cheap
    insurance at every scale and the whole neighborhood derivation
    then tracks cores -- the minhash_signature precedent."""
    ncores = p.sparkSession.sparkContext.defaultParallelism
    p = p.repartition(ncores, F.col("p_partkey"))
    variants = F.expr(
        "array_distinct(concat(array(p_name),"
        " transform(sequence(1, length(p_name)),"
        "  i -> concat(substring(p_name, 1, i - 1),"
        "              substring(p_name, i + 1, length(p_name))))))")
    keyed = p.select(
        "p_brand", "noun", "p_partkey", "p_name",
        F.explode(variants).alias("nkey"),
    )
    a = keyed.select("p_brand", "noun", "nkey",
                     F.col("p_partkey").alias("id_a"),
                     F.col("p_name").alias("name_a"))
    b = keyed.select("p_brand", "noun", "nkey",
                     F.col("p_partkey").alias("id_b"),
                     F.col("p_name").alias("name_b"))
    return (
        a.join(b, ["p_brand", "noun", "nkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("p_brand", "noun", "id_a", "id_b", "name_a", "name_b")
        .distinct()
    )


def fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    p = part.withColumn("noun", F.regexp_extract("p_name", "[a-z]+$", 0))
    pairs = _banded_name_pairs(p).withColumn(
        "d", F.levenshtein("name_a", "name_b"))
    return (
        pairs.groupBy("p_brand", "noun")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count(F.when(F.col("d") == 0, 1)).alias("n_identical"),
            F.count(F.when(F.col("d") == 1, 1)).alias("n_one_edit"),
        )
        .filter(F.col("n_identical") + F.col("n_one_edit") > 0)
        .orderBy("p_brand", "noun")
    )


FUZZY_PART_SQL = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand,
         regexp_extract(p_name, '[a-z]+$') AS noun
  FROM part
), pairs AS (
  SELECT a.p_brand, a.noun, levenshtein(a.p_name, b.p_name) AS d
  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.noun = b.noun
        AND a.p_partkey < b.p_partkey
        AND abs(len(a.p_name) - len(b.p_name)) <= 1
)
SELECT p_brand, noun, COUNT(*) AS n_pairs,
       COUNT(CASE WHEN d = 0 THEN 1 END) AS n_identical,
       COUNT(CASE WHEN d = 1 THEN 1 END) AS n_one_edit
FROM pairs
GROUP BY p_brand, noun
HAVING COUNT(CASE WHEN d = 0 THEN 1 END) + COUNT(CASE WHEN d = 1 THEN 1 END) > 0
ORDER BY p_brand, noun
"""


# --- fuzzy_match_symspell: the LINEAR fuzzy path, gate-verified -------------
# The SymSpell deletion-neighborhood matcher as a first-class oracled
# query (round-7): this is the plan you actually run at 100 TB when a
# (brand, noun) block is hot with same-length names -- candidates come
# from an equi-join on shared single-deletion keys (L+1 keys per name,
# every stage linear in input + true-match density), never from pairing
# a block.  Its output contract is its OWN census, not the banded
# query's: per block, the number of DISTINCT candidate pairs the key
# join surfaces (n_candidates -- deliberately exposed so the gate pins
# the candidate generation, not just the verified matches) plus the
# levenshtein-verified identical/one-edit counts.  Blocks with no
# verified match are dropped, so the result stays match-bounded.
# n_identical/n_one_edit equal fuzzy_part_match's on every block the
# two queries share (deletion keys are a complete cover for d <= 1);
# n_candidates is the SymSpell join's, pinned <10% of the banded
# count on hot blocks in tests/test_mining_ops.py.

def fuzzy_match_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    p = part.withColumn("noun", F.regexp_extract("p_name", "[a-z]+$", 0))
    cand = deletion_neighborhood_pairs(p).withColumn(
        "d", F.levenshtein("name_a", "name_b"))
    return (
        cand.groupBy("p_brand", "noun")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count(F.when(F.col("d") == 0, 1)).alias("n_identical"),
            F.count(F.when(F.col("d") == 1, 1)).alias("n_one_edit"),
        )
        .filter(F.col("n_identical") + F.col("n_one_edit") > 0)
        .orderBy("p_brand", "noun")
    )


FUZZY_SYMSPELL_SQL = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand,
         regexp_extract(p_name, '[a-z]+$') AS noun
  FROM part
), keyed AS (
  -- each name emits itself plus every single-character deletion,
  -- deduplicated ('aab' produces 'ab' twice)
  SELECT DISTINCT p_brand, noun, p_partkey, p_name, nkey FROM (
    SELECT p_brand, noun, p_partkey, p_name, p_name AS nkey FROM p
    UNION ALL
    SELECT p_brand, noun, p_partkey, p_name,
           substring(p_name, 1, i - 1) ||
           substring(p_name, i + 1, len(p_name)) AS nkey
    FROM (SELECT *, UNNEST(generate_series(1, len(p_name))) AS i FROM p)
  )
), cand AS (
  SELECT DISTINCT a.p_brand, a.noun,
         a.p_partkey AS id_a, b.p_partkey AS id_b,
         a.p_name AS name_a, b.p_name AS name_b
  FROM keyed a JOIN keyed b
    ON a.p_brand = b.p_brand AND a.noun = b.noun AND a.nkey = b.nkey
   AND a.p_partkey < b.p_partkey
)
SELECT p_brand, noun, COUNT(*) AS n_candidates,
       COUNT(CASE WHEN levenshtein(name_a, name_b) = 0 THEN 1 END)
         AS n_identical,
       COUNT(CASE WHEN levenshtein(name_a, name_b) = 1 THEN 1 END)
         AS n_one_edit
FROM cand
GROUP BY p_brand, noun
HAVING COUNT(CASE WHEN levenshtein(name_a, name_b) = 0 THEN 1 END)
     + COUNT(CASE WHEN levenshtein(name_a, name_b) = 1 THEN 1 END) > 0
ORDER BY p_brand, noun
"""


# --- interval_overlap_errors: interval-interval overlap join face ---------
# Which error bursts landed inside an active browsing session?  Both
# interval sets derive from the same gaps-and-islands sessionization
# (30 min inactivity, [first, last] event extents); the overlap join is
# operators/temporal.interval_overlap_join -- intervals explode onto
# hour buckets, the join is (bucket, user) EQUI (never a non-equi range
# join), and multi-bucket pairs credit exactly one bucket, so no
# dedup shuffle.  Output is the per-user census over users with at
# least one browse session.

_IOV_GAP_US = 1_800_000_000
_IOV_BUCKET_US = 3_600_000_000


def _event_sessions(ev: DataFrame, types: list[str]) -> DataFrame:
    from pyspark.sql.window import Window

    e = (ev.filter(F.col("event_type").isin(types))
         .select("user_id", "ts_us", "event_id"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = e.withColumn(
        "new_s",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > _IOV_GAP_US, 1)
        .otherwise(0))
    sess = marked.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "sid")
            .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e")))


def interval_overlap_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.temporal import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")
    browse = (_event_sessions(ev, ["click", "view"])
              .select("user_id", F.col("s").alias("b_s"), F.col("e").alias("b_e")))
    errors = (_event_sessions(ev, ["error"])
              .select("user_id", F.col("s").alias("x_s"), F.col("e").alias("x_e")))
    overlaps = interval_overlap_join(
        browse, errors, key="user_id",
        l_start="b_s", l_end="b_e", r_start="x_s", r_end="x_e",
        bucket_width=_IOV_BUCKET_US,
    ).groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlaps"))
    nb = browse.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_browse"))
    ne = errors.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_error_bursts"))
    return (
        nb.join(ne, "user_id", "left").join(overlaps, "user_id", "left")
        .select(
            "user_id", "n_browse",
            F.coalesce("n_error_bursts", F.lit(0)).alias("n_error_bursts"),
            F.coalesce("n_overlaps", F.lit(0)).alias("n_overlaps"),
        )
        .orderBy("user_id")
    )


INTERVAL_OVERLAP_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
), browse AS (
  SELECT user_id, MIN(ts_us) AS b_s, MAX(ts_us) AS b_e FROM (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) > {_IOV_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WHERE event_type IN ('click', 'view')
    )
  ) GROUP BY user_id, sid
), errs AS (
  SELECT user_id, MIN(ts_us) AS x_s, MAX(ts_us) AS x_e FROM (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) > {_IOV_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WHERE event_type = 'error'
    )
  ) GROUP BY user_id, sid
), ov AS (
  SELECT b.user_id, COUNT(*) AS n_overlaps
  FROM browse b JOIN errs x
    ON b.user_id = x.user_id AND b.b_s <= x.x_e AND x.x_s <= b.b_e
  GROUP BY b.user_id
), nb AS (
  SELECT user_id, COUNT(*) AS n_browse FROM browse GROUP BY user_id
), ne AS (
  SELECT user_id, COUNT(*) AS n_error_bursts FROM errs GROUP BY user_id
)
SELECT nb.user_id, nb.n_browse,
       COALESCE(ne.n_error_bursts, 0) AS n_error_bursts,
       COALESCE(ov.n_overlaps, 0) AS n_overlaps
FROM nb LEFT JOIN ne ON nb.user_id = ne.user_id
LEFT JOIN ov ON nb.user_id = ov.user_id
ORDER BY nb.user_id
"""


# --- basket_part_pairs: market-basket association mining -------------------
# Frequent part pairs across order baskets with lift -- the
# association-rules face.  Pair generation is a self-join keyed on the
# ORDER (shuffle key = l_orderkey; pairs per order ~ basket_size^2
# with baskets of ~4, so total pairs stay O(rows)); supports and lift
# are two more hash aggregates plus broadcast-size joins back.  Output
# = top 20 by (rounded lift DESC, pair) with min pair support 2 --
# rounding first keeps the cut identical across engines.

def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    b = li.distinct()
    n_orders = b.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("isup"))
    a = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("pa"))
    c = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(c, "l_orderkey").filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("isup").alias("sup_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("isup").alias("sup_b"))
    lift = (F.col("sup").cast("double") * F.col("n_orders")
            / (F.col("sup_a").cast("double") * F.col("sup_b")))
    # item-support sides unhinted: the part catalog grows with the corpus,
    # so broadcast-vs-shuffle is AQE's call, not a hard-coded hint
    return (
        pairs.join(ia, "pa").join(ib, "pb")
        .crossJoin(F.broadcast(n_orders))
        .select("pa", "pb", "sup", F.round(lift, 6).alias("lift"))
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(20)
    )


BASKET_PAIRS_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), tot AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b
), item AS (
  SELECT l_partkey, COUNT(*) AS isup FROM b GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS pa, c.l_partkey AS pb, COUNT(*) AS sup
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT pa, pb, sup,
       ROUND(CAST(sup AS DOUBLE) * t.n_orders
             / (CAST(ia.isup AS DOUBLE) * ib.isup), 6) AS lift
FROM pairs
JOIN item ia ON pa = ia.l_partkey
JOIN item ib ON pb = ib.l_partkey
CROSS JOIN tot t
ORDER BY lift DESC, pa, pb LIMIT 20
"""


# --- orders_monthly_growth: time-series growth over an aggregate ----------
# Month-over-month revenue growth: one hash aggregate to the ~80-month
# series, then lag() over the AGGREGATE -- the window's SinglePartition
# exchange moves |months| rows, not orders, which is the correct shape
# for series-over-aggregate analytics at any SF.  First month's growth
# is NULL on both engines.

def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    # month as 'yyyy-MM' STRING: a DATE column round-trips as
    # datetime.date from Spark but datetime64 from DuckDB and the
    # driver's dtype-strict compare flags the kind mismatch
    monthly = (
        orders.groupBy(
            F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month_start"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("month_start")
    prev = F.lag("revenue").over(w)
    return (
        monthly.withColumn(
            "mom_growth",
            F.round((F.col("revenue") - prev) / prev, 6))
        .orderBy("month_start")
    )


ORDERS_MONTHLY_SQL = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month_start,
         COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month_start, n_orders, revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY month_start))
             / LAG(revenue) OVER (ORDER BY month_start), 6) AS mom_growth
FROM monthly ORDER BY month_start
"""


# --- events_markov_transitions: first-order transition matrix -------------
# P(next type | type) over per-user ordered event streams -- the
# sequence-modeling census (events_user_paths' normalized cousin).
# lead() in the per-user window, then a |types|^2-cardinality
# aggregate; probabilities divide exact counts and round.

def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "prob", F.round(F.col("n") / F.sum("n").over(wf), 6))
        .select("from_type", "to_type", "n", "prob")
        .orderBy("from_type", "to_type")
    )


EVENTS_MARKOV_SQL = """
WITH p AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS prob
FROM c ORDER BY from_type, to_type
"""


# --- pagerank_neardup: fixed-iteration PageRank over the near-dup graph ---
# The iterative-algorithm face beyond connected components: 3 unrolled
# power iterations of PageRank (d=0.85) over the undirected
# Jaccard>=0.2 pair graph -- per iteration one keyed join (contribution
# = rank/deg shipped along edges) and one hash aggregate per target,
# the standard distributed PageRank step whose shuffle is edge-
# proportional.  Cross-engine float discipline: each iteration's rank
# is ROUND(...,9) on both engines, so accumulation-order ulps cannot
# compound across iterations; the final report rounds to 6.

_PR_ITERS = 3


def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.plans.pipeline import bucketed_edges

    # at-rest edge table (round 13): the three unrolled iterations
    # re-reference the edge set per step -- each reference is a
    # bucketed scan, not a checkpoint block (see bucketed_edges)
    e = bucketed_edges(spark, sf_dir)
    und = (e.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
           .unionAll(e.select(F.col("id_b").alias("src"),
                              F.col("id_a").alias("dst"))))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("v"), "deg")
    n1 = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = (nodes.crossJoin(F.broadcast(n1))
         .select("v", "deg", "n", (F.lit(1.0) / F.col("n")).alias("rank")))
    for _ in range(_PR_ITERS):
        contrib = (
            und.join(r.select(F.col("v").alias("src"),
                              (F.col("rank") / F.col("deg")).alias("c")), "src")
            .groupBy("dst").agg(F.sum("c").alias("s"))
        )
        r = (
            r.join(contrib.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v", "deg", "n",
                F.round(F.lit(0.15) / F.col("n")
                        + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0)), 9)
                .alias("rank"))
        )
    return (
        r.select(F.col("v").alias("doc_id"), "deg",
                 F.round("rank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "doc_id")
        .limit(20)
    )


def _pagerank_sql() -> str:
    its = []
    prev = "it0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
, it{i} AS (
  SELECT d.v, d.deg,
         ROUND(0.15 / nn.n + 0.85 * COALESCE(SUM(p.rank / p.deg), 0), 9) AS rank
  FROM deg d CROSS JOIN nn
  LEFT JOIN und u ON u.dst = d.v
  LEFT JOIN {prev} p ON p.v = u.src
  GROUP BY d.v, d.deg, nn.n
)""")
        prev = f"it{i}"
    return _NGRAM_PAIRS_CTE + f"""
, und AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL SELECT id_b, id_a FROM edges
), deg AS (
  SELECT src AS v, COUNT(*) AS deg FROM und GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), it0 AS (
  SELECT v, deg, 1.0 / nn.n AS rank FROM deg CROSS JOIN nn
){''.join(its)}
SELECT v AS doc_id, deg, ROUND(rank, 6) AS pagerank
FROM {prev}
ORDER BY pagerank DESC, doc_id LIMIT 20
"""


PAGERANK_SQL = _pagerank_sql()


QUERIES = {
    "events_gap_fill": events_gap_fill,
    "pagerank_neardup": pagerank_neardup,
    "basket_part_pairs": basket_part_pairs,
    "orders_monthly_growth": orders_monthly_growth,
    "events_markov_transitions": events_markov_transitions,
    "interval_overlap_errors": interval_overlap_errors,
    "embedding_label_centroids": embedding_label_centroids,
    "fuzzy_part_match": fuzzy_part_match,
    "fuzzy_match_symspell": fuzzy_match_symspell,
    "dedup_graph_triangles": dedup_graph_triangles,
    "token_bpe_pretokenize": token_bpe_pretokenize,
    "bpe_merge_pairs": bpe_merge_pairs,
    "profile_orders": profile_orders,
    "events_type_unpivot": events_type_unpivot,
    "events_anomaly_mad": events_anomaly_mad,
    "events_user_paths": events_user_paths,
    "dedup_containment": dedup_containment,
    "tokens_pmi_bigrams": tokens_pmi_bigrams,
    "token_bpe_trained": token_bpe_trained,
    "token_bpe_encode": token_bpe_encode,
}

ORACLES = {
    "events_gap_fill": EVENTS_GAP_FILL_SQL,
    "pagerank_neardup": PAGERANK_SQL,
    "basket_part_pairs": BASKET_PAIRS_SQL,
    "orders_monthly_growth": ORDERS_MONTHLY_SQL,
    "events_markov_transitions": EVENTS_MARKOV_SQL,
    "interval_overlap_errors": INTERVAL_OVERLAP_SQL,
    "embedding_label_centroids": EMBEDDING_CENTROIDS_SQL,
    "fuzzy_part_match": FUZZY_PART_SQL,
    "fuzzy_match_symspell": FUZZY_SYMSPELL_SQL,
    "dedup_graph_triangles": DEDUP_TRIANGLES_SQL,
    "token_bpe_pretokenize": TOKEN_BPE_SQL,
    "bpe_merge_pairs": BPE_MERGE_SQL,
    "profile_orders": PROFILE_ORDERS_SQL,
    "events_type_unpivot": EVENTS_UNPIVOT_SQL,
    "events_anomaly_mad": EVENTS_ANOMALY_MAD_SQL,
    "events_user_paths": EVENTS_USER_PATHS_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "tokens_pmi_bigrams": TOKENS_PMI_SQL,
    "token_bpe_trained": BPE_TRAINED_SQL,
    "token_bpe_encode": BPE_ENCODE_SQL,
}
