"""LLM-training-data pipeline operators over documents/embeddings.

Beyond-reference surface (project charter): dedup, similarity search,
text analysis, multimodal plumbing -- each partition-parallel with no
driver-side collect, designed so the same plan runs at 100 TB.

Oracle-parity design notes:
 - All hashing goes through md5 hex strings -- identical in Spark and
   DuckDB -- never engine-native hash() (Spark murmur3 != DuckDB hash).
 - Tokenization is a shared regex split on whitespace; both engines'
   regex dialects agree on the simple classes used here.
 - Floating-point outputs are rounded where cross-engine accumulation
   order could differ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from operating_system_map_reduce_spark.sources.tables import derived, load_table as _t


# --- exact dedup: hash-groupBy -------------------------------------------
# Canonical = min doc_id per md5(text) group.  One shuffle on the hash;
# at 100 TB the md5 is computed map-side and only (hash, id) shuffles.

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("canonical_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY canonical_id
"""


# --- text quality scoring -------------------------------------------------
# length / punctuation / stopword / digit ratios -> composite score.
# Pure built-in expressions: whole-stage codegen, no Python.

_STOPWORDS = "('the','a','an','and','or','of','to','in','is','on','for','with')"
_STOP_ARR = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with"]


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), "\\s+")
    n_tok = F.size(F.filter(toks, lambda t: t != ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(_STOP_ARR)))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    # ratios are undefined (NULL) for empty/whitespace-only docs --
    # under ANSI mode the bare division would abort the whole scan on
    # the first degenerate row a real corpus ships
    return (
        docs.select(
            F.col("doc_id"),
            n_chars.alias("n_chars_m"),
            n_tok.alias("n_tokens"),
            F.when(n_chars > 0,
                   F.round(n_alpha / n_chars, 6)).alias("alpha_ratio"),
            F.when(n_chars > 0,
                   F.round(n_digit / n_chars, 6)).alias("digit_ratio"),
            F.when(n_tok > 0,
                   F.round(stop_hits / n_tok, 6)).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_m,
       len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS n_tokens,
       CASE WHEN LENGTH(text) > 0 THEN
         ROUND(CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / LENGTH(text), 6)
       END AS alpha_ratio,
       CASE WHEN LENGTH(text) > 0 THEN
         ROUND(CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / LENGTH(text), 6)
       END AS digit_ratio,
       CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) > 0 THEN
         ROUND(CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN {_STOPWORDS})) AS DOUBLE)
               / len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')), 6)
       END AS stopword_ratio
FROM documents
ORDER BY doc_id
"""


# --- token counting: whitespace + BPE-ish sub-token estimate --------------
# BPE-ish: alpha runs contribute ceil(len/4) sub-tokens (~4 chars per BPE
# token), digits/punct one each.  Deterministic arithmetic only.

def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ws_toks = F.size(F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != ""))
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    bpe_est = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )
    return (
        docs.select(
            F.col("doc_id"),
            ws_toks.alias("ws_tokens"),
            bpe_est.alias("bpe_est_tokens"),
        )
        .orderBy("doc_id")
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS ws_tokens,
       COALESCE(CAST(list_sum(list_transform(
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
           w -> CAST(CEIL(LENGTH(w) / 4.0) AS BIGINT))) AS BIGINT), 0) AS bpe_est_tokens
FROM documents
ORDER BY doc_id
"""


# --- language ID: stopword-hit heuristic ----------------------------------
# Score each candidate language by hits from a tiny per-language marker
# list; argmax with deterministic tie-break on language name.

_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    scored = docs.select("doc_id", "lang", toks.alias("toks"))
    for lang, markers in _LANG_MARKERS.items():
        scored = scored.withColumn(
            f"score_{lang}", F.size(F.filter(F.col("toks"), lambda t: t.isin(markers)))
        )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(f"score_{lang}").alias(f"hits_{lang}") for lang in _LANG_MARKERS],
        )
        .orderBy("lang")
    )


_lang_score_sql = ",\n       ".join(
    "CAST(SUM(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), t -> t <> ''), "
    f"t -> t IN ({', '.join(repr(m) for m in ms)})))) AS BIGINT) AS hits_{lang}"
    for lang, ms in _LANG_MARKERS.items()
)

LANG_ID_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       {_lang_score_sql}
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --- document fingerprint: normalized-content hash ------------------------
# Rabin-style content fingerprint: normalize (lowercase, collapse
# non-alnum runs to single space, trim) then md5.  Groups near-identical
# formatting variants; pure map-side at scale.

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return (
        docs.select(F.col("doc_id"), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("first_doc")
    )


DOC_FINGERPRINT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM documents
GROUP BY 1
ORDER BY first_doc
"""


# --- repetition metrics: type-token ratio + top-token dominance -----------
# Degenerate-repetition detector (a standard LLM data-quality signal):
# a low distinct/total token ratio or a single token dominating the doc
# flags boilerplate and generation loops.  Scale shape: explode ->
# groupBy (doc_id, tok) partial-aggregates map-side (each task combines
# its own token repeats before the shuffle), then one per-doc agg; no
# per-doc O(len^2) array scans.

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok_counts = (
        docs.select("doc_id", F.explode(_dd.tokens_expr()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_ratio"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = """
WITH tc AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (
    SELECT doc_id,
           UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
    FROM documents
  )
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ratio
FROM tc GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "text_quality": text_quality,
    "token_count": token_count,
    "text_lang_id": text_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "text_repetition": text_repetition,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "text_lang_id": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
}


# === near-dup detection =====================================================

from operating_system_map_reduce_spark.operators import dedup as _dd
from operating_system_map_reduce_spark.operators import similarity as _sim
from operating_system_map_reduce_spark.operators import multimodal as _mm


# --- MinHash + LSH near-dedup ---------------------------------------------
# Shingle -> 16 minhashes -> 4 bands -> bucket-join candidates -> exact
# Jaccard verify.  The oracle reproduces the identical LSH pipeline, so
# candidate sets match exactly (this checks the *operator*, not just the
# ground truth).  Scale path: only (doc_id, band_hash) shuffles.

def bucketed_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature as an AT-REST doc_id-bucketed parquet table.

    Why the minhash verify path reads it: broadcasting the
    candidate-pair ID list ("bounded by LSH banding") does not hold,
    because candidate counts grow ~linearly with the corpus -- at
    10^9+ docs the pair list is tens of GB, the same lying-estimate
    OOM class the plan sweep exists to forbid, deferred rather than
    eliminated.  Writing the signature doc_id-bucketed (16 buckets
    here; at 100 TB, sized so a bucket fits an executor) removes the
    need for ANY broadcast: a join on doc_id reads the buckets with
    no exchange on the signature side, the pair list shuffles (two
    longs per pair), and the shingle arrays never move at all.  It
    also moves the Python signature stage OUT of the query plan --
    downstream estimates come from real parquet statistics, so the
    planner's runtime choices are trustworthy again.

    Write-once per (session, sf_dir, documents stamp) -- the stamp
    invalidates the table when testdata is regenerated in place, and
    the table lives in this process's scratch root
    (analytics.at_rest_table).  The signature frame streams straight
    into the write job with nothing persisted: the write job is its
    only consumer."""
    from operating_system_map_reduce_spark.plans.analytics import at_rest_table

    return at_rest_table(
        spark, sf_dir, "b_sig", "doc_id",
        lambda: _dd.minhash_signature(_t(spark, sf_dir, "documents")))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = bucketed_signature(spark, sf_dir)
    pairs = _dd.candidate_pairs(_dd.lsh_bands(sig))
    sh = sig.select(F.col("doc_id"), F.col("shingles"))
    # Verify-join shape (third re-plan -- see
    # bucketed_signature): the corpus's shingle arrays must neither
    # ride a broadcast (the lying-estimate OOM class -- the planner's
    # original pick) nor a shuffle (the first re-plan SHUFFLE_HASH-
    # pinned the array sides and sf10 went 18.9 -> 99 s moving 500k
    # docs' arrays through two exchanges).  The second answer
    # broadcast the candidate-pair ID list -- corpus-growing, merely
    # deferred the OOM.  With the signature bucketed on doc_id both
    # verify joins are exchange-free on the array side with NO
    # broadcast hint at all: the pair list shuffles into the bucket
    # partitioning, and only candidate-bounded array payloads reach
    # the final pair-key exchange.  No Python stage remains in this
    # plan, so AQE's runtime sizes (not estimates through a barrier)
    # drive any remaining strategy choice.
    fa = (sh.join(pairs, sh["doc_id"] == pairs["id_a"])
          .select("id_a", "id_b", F.col("shingles").alias("sh_a")))
    fb = (sh.join(pairs, sh["doc_id"] == pairs["id_b"])
          .select(pairs["id_a"].alias("id_a"), "id_b",
                  F.col("shingles").alias("sh_b")))
    return (
        fa.join(fb, ["id_a", "id_b"])
        .withColumn("jaccard", _dd.jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _minhash_list_sql() -> str:
    # Same universal-hash family as operators/dedup.py: one md5 per
    # shingle -> 48-bit int (hvals) -> affine transforms mod p.
    entries = ", ".join(
        f"list_min(list_transform(hvals, h -> ({_dd.MINHASH_A[s]} * h + {_dd.MINHASH_B[s]}) % {_dd.MINHASH_P}))"
        for s in range(_dd.N_MINHASH)
    )
    return f"[{entries}]"


def _bands_union_sql() -> str:
    selects = []
    for band in range(_dd.LSH_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh[{band * _dd.LSH_ROWS + r + 1}] AS VARCHAR)" for r in range(_dd.LSH_ROWS)
        )
        selects.append(
            f"SELECT doc_id, {band} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    return " UNION ALL ".join(selects)


# Shared CTE prefix: documents -> shingles -> minhash signature ->
# banded LSH index.  Reused verbatim by the pair-detection oracle and
# the novelty-filter oracle so both replay the IDENTICAL index.
_SIG_BANDS_CTE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS shingles
  FROM toks WHERE len(toks) >= {_dd.SHINGLE_N}
), hv AS (
  SELECT doc_id, shingles,
         {_dd.shingle_hash_vals_sql("shingles", "list_transform")} AS hvals
  FROM sh
), sig AS (
  SELECT doc_id, shingles, {_minhash_list_sql()} AS mh FROM hv
), bands AS (
  {_bands_union_sql()}
)"""


DEDUP_MINHASH_SQL = f"""{_SIG_BANDS_CTE}, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
), verified AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles))) AS DOUBLE)
           / (len(list_distinct(sa.shingles)) + len(list_distinct(sb.shingles))
              - len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))) AS jaccard
  FROM pairs p JOIN sh sa ON p.id_a = sa.doc_id JOIN sh sb ON p.id_b = sb.doc_id
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= 0.2
ORDER BY id_a, id_b
"""


# --- incremental novelty filter -------------------------------------------
# The continuous-crawl production shape: an arriving BATCH of documents
# is deduped against the standing CORPUS's LSH band index without ever
# re-pairing the corpus with itself.  Batch = doc_id % 10 == 7 (stand-in
# for today's crawl); corpus = the rest.  A batch doc is flagged when
# any of its band hashes already exists in the corpus index
# (near-dup candidate) or its exact md5(text) does (exact dup).
#
# Scale shape: the corpus index is (band_idx, band_hash) DISTINCT --
# in production a maintained table, bucketed by band_hash.  The join
# shuffles on the band hash; the small arriving batch never multiplies,
# and the corpus is touched once to probe, never squared.  New docs
# that survive would then have their bands APPENDED to the index --
# the incremental-maintenance half is exercised in tests
# (test_pipeline_ops) via a two-step replay.

def corpus_novelty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 7
    # The bands derive from the AT-REST bucketed signature table (the
    # minhash re-plan's second consumer), not the through-mapInPandas
    # frame.  An earlier SHUFFLE_HASH pin on the
    # batch side existed because the standing index was corpus-grown
    # behind a Python barrier and read as scan-sized (< 64 MB), so the
    # planner kept electing to broadcast it.  With the signature on
    # parquet there is NO Python stage anywhere in this plan and every
    # size the planner sees is a real file statistic that grows
    # honestly with the corpus -- the index side can no longer
    # masquerade as broadcastable, so the pin comes off and AQE's
    # runtime sizes drive the strategy (at bench SF it may well
    # broadcast the small batch build; at 100 TB both sides are
    # scan-estimated and it shuffles on the band hash).
    bands = _dd.lsh_bands(bucketed_signature(spark, sf_dir))
    corpus_index = (
        bands.filter(~(F.col("doc_id") % 10 == 7))
        .select("band_idx", "band_hash").distinct()
    )
    band_hits = (
        bands.filter(F.col("doc_id") % 10 == 7)
        .join(corpus_index, ["band_idx", "band_hash"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band_hits"))
    )
    corpus_hashes = (
        docs.filter(~is_batch).select(F.md5("text").alias("h")).distinct()
    )
    exact_hits = (
        docs.filter(is_batch)
        .select("doc_id", F.md5("text").alias("h"))
        .join(corpus_hashes, "h")
        .select("doc_id", F.lit(1).cast("long").alias("exact_dup"))
    )
    return (
        band_hits.join(exact_hits, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("n_band_hits", F.lit(0)).cast("long").alias("n_band_hits"),
            F.coalesce("exact_dup", F.lit(0)).cast("long").alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


CORPUS_NOVELTY_SQL = f"""{_SIG_BANDS_CTE}, corpus_index AS (
  SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 10 <> 7
), band_hits AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_band_hits
  FROM bands b JOIN corpus_index c
    ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
  WHERE b.doc_id % 10 = 7
  GROUP BY b.doc_id
), exact_hits AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS exact_dup
  FROM documents
  WHERE doc_id % 10 = 7
    AND md5(text) IN (SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 10 <> 7)
)
SELECT COALESCE(h.doc_id, e.doc_id) AS doc_id,
       CAST(COALESCE(h.n_band_hits, 0) AS BIGINT) AS n_band_hits,
       CAST(COALESCE(e.exact_dup, 0) AS BIGINT) AS exact_dup
FROM band_hits h FULL OUTER JOIN exact_hits e ON h.doc_id = e.doc_id
ORDER BY doc_id
"""


# --- SimHash near-dup buckets ---------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        _dd.simhash_signature(docs)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("simhash")
    )


DEDUP_SIMHASH_SQL = f"""
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM (
  SELECT doc_id,
         {_dd.simhash_duckdb_sql("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')")} AS simhash
  FROM documents
) t
GROUP BY simhash
ORDER BY simhash
"""


# --- brute-force n-gram Jaccard (quality baseline for the LSH path) -------

# Corpus bytes per postings bucket.  A bucketed join's parallelism IS
# the bucket count, so a CONSTANT count means per-task aggregate
# volume grows with the corpus: the ngram face measured exactly
# replica-linear in input, candidates and output yet 17-18x on 10x
# data between sf10 and sf100 -- per-task hash-aggregate state at
# 32-bucket parallelism crossing the spill threshold -- and 256
# buckets at constant total work collapsed the term (SCALING.md).
# 4 MiB of source corpus per bucket reproduces the probed
# cells: every benchmark/test SF and the sf10 replica corpus stay at the
# floor of 32 (task-per-core on the local[32] harness), the sf100
# replica corpus (810 MB) gets 256.
_POSTINGS_BUCKET_BYTES = 4 * 1024 * 1024
_POSTINGS_BUCKET_FLOOR = 32
# Cap: one bucket is one file and one join task; 4096 buckets x
# ~hundreds of MB of postings per bucket covers a 100 TB corpus tier
# while keeping the file count sane -- past that, partition the table
# (e.g. by corpus shard) instead of growing a single flat bucket set.
_POSTINGS_BUCKET_CAP = 4096


def _postings_bucket_count(sf_dir: str) -> int:
    """Bucket count for the corpus-keyed at-rest tables (b_post and
    b_edge), sized to the corpus at write time.  Power-of-two growth
    from the floor, keyed on the source corpus' on-disk bytes
    (documents.parquet file, or summed parquet parts for a directory
    corpus) -- a write-time stat, no Spark job.  The table names key
    on the source mtime, so the count cannot change under a live
    table."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        # recursive walk: a partitioned/nested parquet dataset keeps
        # its parts in subdirectories, which a top-level scan would
        # sum to 0 bytes -- silently landing on the 32-bucket floor at
        # any corpus size
        nbytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet"))
        if nbytes == 0:
            import warnings
            warnings.warn(
                f"_postings_bucket_count: no *.parquet files found "
                f"under directory corpus {path!r}; sizing falls back "
                "to the bucket floor", RuntimeWarning, stacklevel=2)
    else:
        nbytes = os.path.getsize(path)
    n = _POSTINGS_BUCKET_FLOOR
    while n < _POSTINGS_BUCKET_CAP and nbytes > _POSTINGS_BUCKET_BYTES * n:
        n *= 2
    return n


def bucketed_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle inverted index (doc_id, n, s) as an AT-REST parquet
    table bucketed AND sorted on the shingle ``s``.

    The postings self-join that powers dedup_ngram_jaccard,
    dedup_jaccard_ppjoin and dedup_containment (and through ngram's
    pairs pagerank_neardup / dedup_graph_triangles) joins two
    corpus-grown sides.  Computed per query behind the mapInPandas
    shingling barrier, the planner's estimate collapses to the scan
    size (sf10 read a 26M-row / 3-4 GB side as < 64 MB and broadcast
    it).  At rest the join is exchange-free: a self-join of a table
    bucketed+sorted on the join key plans as a zero-shuffle
    SortMergeJoin, so the corpus-sized postings exchange is deleted
    outright and only candidate-bounded pair rows reach the count
    aggregate.

    Bucket count: corpus-scaled via _postings_bucket_count (floor 32,
    not the default 16, because the bucketed self-join's parallelism
    IS the bucket count).  The count affects the table LAYOUT only --
    bucket membership of a row is pure murmur3(s) mod n -- so every
    consumer computes identical rows at any count; what scales is
    per-task join/aggregate volume (see the constants' comment)."""
    from operating_system_map_reduce_spark.plans.analytics import at_rest_table

    return at_rest_table(
        spark, sf_dir, "b_post", "s",
        lambda: _dd.shingle_postings(_t(spark, sf_dir, "documents")),
        n_buckets=_postings_bucket_count(sf_dir))


# --- incremental maintenance of the at-rest postings tier -----------------
# The at-rest tables invalidate by source mtime and pay a FULL rebuild
# on any change -- fine for a static benchmark corpus, wrong for an
# APPENDING corpus (continuous crawl/ingest) where the daily delta is a
# fraction of a percent of the standing index.  Postings are per-doc
# derivations (doc_id, n, s) with no cross-doc state, so maintenance is
# exact delta-append: new docs' postings land in their correct bucket
# files (joins stay exchange-free across appends) and a periodic
# compaction restores the one-file-per-bucket sort guarantee -- the
# changelog + SAV lifecycle (reference: p4/server/my_storage.cc append +
# SAV compaction) applied to the analytic tier.  Equivalence to the
# full rebuild is pinned in tests/test_pipeline_ops.py
# (TestIncrementalPostings).

def postings_append(spark: SparkSession, delta_docs: DataFrame, table: str,
                    n_buckets: int = 32) -> None:
    """Append the postings of NEW documents into an existing postings
    table -- delta-proportional work, never a corpus pass.  Insert-only
    semantics (an appending corpus); updates/deletes go through
    compaction-time rebuild of the affected docs, which the per-doc
    row layout makes a doc_id anti-join away."""
    from operating_system_map_reduce_spark.sources.bucketing import (
        append_bucketed)

    append_bucketed(_dd.shingle_postings(delta_docs), table, "s",
                    n_buckets=n_buckets)


# Session-local completion ledger for the staged incremental table:
# tableExists alone cannot distinguish a finished lifecycle from one
# that died between seed and compact in THIS session (a restarted
# session's catalog has no such table, and _ensure_bucketed clears its
# leftover directory before the seed write).
_INCR_COMPLETE: set = set()


def incremental_postings_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """The staged incremental-maintenance lifecycle as a standing
    artifact: seed the postings table from the corpus MINUS a 1% tail
    (pmod(doc_id, 100) = 0 -- the simulated ingest delta), APPEND the
    tail's postings (the maintenance tick), then COMPACT back to one
    file per bucket.  Keyed and placed like every at-rest table (sf
    tag, source stamp; in this process's scratch root, written by the
    same _ensure_bucketed), so the lifecycle runs once per
    session and every later reference is a bucketed table scan.  By the
    equivalence tests/test_pipeline_ops.py pins, the result is
    row-identical to a from-scratch build over ALL documents -- which
    is exactly what lets dedup_ngram_incremental below share the
    from-scratch DuckDB oracle."""
    from operating_system_map_reduce_spark.plans.analytics import (
        _ensure_bucketed, _table_lock, bucketed_table_name)
    from operating_system_map_reduce_spark.sources.bucketing import (
        compact_bucketed)

    table = bucketed_table_name("b_posti", sf_dir, "documents.parquet")
    with _table_lock(table + "#lifecycle"):
        if table in _INCR_COMPLETE and spark.catalog.tableExists(table):
            return table
        if spark.catalog.tableExists(table):
            # this session started the lifecycle and died mid-way:
            # rebuild from scratch (fails loudly, never serves a
            # half-maintained table)
            spark.sql(f"DROP TABLE {table}")
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        is_delta = F.pmod(F.col("doc_id"), F.lit(100)) == 0
        # same corpus-scaled count as bucketed_postings: seed, append
        # and compact must agree on the bucket spec (Spark enforces
        # it), and the incremental table should ride the same policy
        # the full-build table ships with
        nb = _postings_bucket_count(sf_dir)
        _ensure_bucketed(spark, table,
                         _dd.shingle_postings(docs.filter(~is_delta)),
                         "s", n_buckets=nb)
        postings_append(spark, docs.filter(is_delta), table, n_buckets=nb)
        compact_bucketed(spark, table, "s", n_buckets=nb)
        _INCR_COMPLETE.add(table)
    return table


def dedup_ngram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs served from the INCREMENTALLY-MAINTAINED
    postings table (seed 99% -> append 1% tick -> compact).  The plan is
    dedup_ngram_jaccard's exactly -- same exchange-free bucketed
    self-join, same pair aggregate -- only the scan is the maintained
    table, so the driver gate proves maintenance == rebuild
    end-to-end against the same from-scratch DuckDB oracle
    (DEDUP_NGRAM_SQL) the registered ngram face uses."""
    return (_ngram_pair_rows(
        spark.table(incremental_postings_demo_table(spark, sf_dir)))
        .orderBy("id_a", "id_b"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index set-similarity join over the AT-REST bucketed
    postings table: explode distinct shingles, equi-join on the
    shingle (never a cross join), count shared shingles per pair, then
    Jaccard arithmetic.  Identical result to the all-pairs form -- any
    pair with Jaccard >= 0.2 shares at least one shingle, so no
    qualifying pair is missed -- but the candidate space is
    sum-over-shingles(freq^2) instead of n^2 docs.

    Postings come from bucketed_postings, so the self-join of the
    shingle-bucketed table is EXCHANGE-FREE: the corpus-sized postings
    rows never move, no Python stage remains in the query plan, and
    the planner sees real parquet statistics (no join hint is needed;
    through a mapInPandas barrier the planner once read a 3-4 GB side
    as < 64 MB and broadcast it).  Data-proportional through four
    decades (sf100: 10.5x on 10x data, SCALING.md).  This is
    the Spark analog of the reference's persistent bucketed store
    (p2/server/concurrenthashmap.h:90) serving its full-scan tier
    (p5/server/map.h:80-81).

    The length filter sits in the join condition -- J >= t needs
    |A inter B| >= t*max(|A|,|B|), so |A|,|B| within a factor 1/t of
    each other prunes postings pairs before the group-count.  PPJoin
    prefix filtering does not pay at t = 0.2 with 3-gram shingles:
    the prefix keeps 80% of postings (candidates only drop 1.10M ->
    0.77M) while per-candidate array verification costs 5.2 s vs
    1.6 s for this count-based form."""
    return (_ngram_pair_rows(bucketed_postings(spark, sf_dir))
            .orderBy("id_a", "id_b"))


def _pair_count_join(ex: DataFrame, length_ok: tuple, t: float) -> DataFrame:
    """UNORDERED (id_a, id_b, jaccard) pairs with Jaccard >= t from a
    postings relation (doc_id, n, s): one self-join on the shingle with
    the ``length_ok`` filters in the join condition, |A inter B| as a
    map-side-combining pair count, then exact Jaccard arithmetic."""
    a = ex.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), "s")
    b = ex.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"),
                  F.col("s").alias("s_b"))
    cond = (F.col("s") == F.col("s_b")) & (F.col("id_a") < F.col("id_b"))
    for ok in length_ok:
        cond = cond & ok
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("double").alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _ngram_pair_rows(ex: DataFrame) -> DataFrame:
    """UNORDERED Jaccard >= 0.2 near-dup pairs -- the shared core of
    dedup_ngram_jaccard (which adds the report ORDER BY) and
    bucketed_edges (which must NOT sort: the bucketed write
    repartitions on the bucket key, so a pre-write global sort would
    be a pure-waste range exchange)."""
    return _pair_count_join(
        ex, (F.col("n_a") * F.lit(5) >= F.col("n_b"),
             F.col("n_b") * F.lit(5) >= F.col("n_a")), 0.2)


def bucketed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard >= 0.2 near-dup pair graph (id_a, id_b) as an
    AT-REST parquet table bucketed on id_a -- the graph tier's
    standing artifact: pagerank_neardup and dedup_graph_triangles reference the
    edge set up to six ways (degrees twice, both join sides, the
    semi-join target, counts / unrolled PageRank iterations), and the
    localCheckpoint they shared swung their timings ~2x run-to-run on
    ContextCleaner cadence while pinning executor storage with no
    release handle.  At rest the edge derivation (the bucketed-postings
    pair join above) runs ONCE per (session, sf, source-mtime) inside
    the write job, both faces share the table, and every downstream
    reference is a plain bucketed scan -- nothing held in executor
    memory, nothing for the cleaner to churn.  At 100 TB this is the
    curated near-dup graph a pipeline materializes once and queries
    many times, not a per-query recomputation."""
    from operating_system_map_reduce_spark.plans.analytics import at_rest_table

    # Same corpus-keyed bucket count as b_post: the edge count is
    # replica-linear in the corpus (exactly 10.00x per decade,
    # SCALING.md), so a constant count would repeat the
    # per-task-volume hazard the postings policy fixes.
    return at_rest_table(
        spark, sf_dir, "b_edge", "id_a",
        lambda: _ngram_pair_rows(bucketed_postings(spark, sf_dir))
        .select("id_a", "id_b"),
        n_buckets=_postings_bucket_count(sf_dir))


def dedup_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold near-dup pairs (Jaccard >= 0.7) as a pure
    COUNT-JOIN over the at-rest postings.

    One exchange-free self-join of the shingle-bucketed table with
    both PPJoin length filters in the join condition (J >= 0.7 forces
    10*|A| >= 7*|B| both ways -- tighter than ngram's t = 0.2 filter,
    so strictly fewer join rows than the ngram face), then
    |A inter B| as a map-side-combining pair count and exact Jaccard
    arithmetic.  Only narrow grouped (id_a, id_b) rows move: the
    prefix/positional candidate generator with an array verify ships
    pairs x ~4 KB shingle arrays and crosses the per-task spill
    threshold at sf100 (~6 s at sf10 -> ~350 s at sf100), while this
    form stays data-proportional (SCALING.md rounds 13-14).  Reference
    anchor: the full-scan tier these faces implement is
    p5/server/map.h:80-81."""
    return _pair_count_join(
        bucketed_postings(spark, sf_dir),
        (F.col("n_a") * F.lit(10) >= F.col("n_b") * F.lit(7),
         F.col("n_b") * F.lit(10) >= F.col("n_a") * F.lit(7)),
        0.7).orderBy("id_a", "id_b")


DEDUP_PPJOIN_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents
  ) WHERE len(toks) >= 3
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.7
ORDER BY id_a, id_b
"""


DEDUP_NGRAM_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
    FROM documents
  ) WHERE len(toks) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
ORDER BY id_a, id_b
"""


# === similarity search ======================================================

def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # exact=True: this registered query IS the documented quality
    # baseline; the opt-in also skips the guard's count() job.
    return _sim.cosine_knn(emb, k=5, exact=True).orderBy("vec_id", "rank")


SIMILARITY_KNN_SQL = f"""
WITH n AS (
  -- zero-vector exclusion: see _drop_zero_vectors
  SELECT * FROM (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
    FROM embeddings
  ) WHERE nrm > 0
), p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_sum(list_transform(range(1, {_sim.DIM + 1}),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM p
) t
WHERE rank <= 5
ORDER BY vec_id, rank
"""


def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.col("vec_id"),
            F.expr(_sim.lsh_bucket_spark_sql("embedding")).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec"))
        .coalesce(1).orderBy("bucket")
    )


SIMILARITY_LSH_SQL = f"""
SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
FROM (
  SELECT vec_id, {_sim.lsh_bucket_duckdb_sql("embedding")} AS bucket
  FROM embeddings
) t
GROUP BY bucket
ORDER BY bucket
"""


# --- retrieval_rrf_fusion: hybrid lexical+semantic retrieval ---------------
# Reciprocal-rank fusion (Cormack et al. 2009) of the two retrieval
# modalities the engine already serves: an n-gram Jaccard LEXICAL
# ranker (inverted-index join, the dedup_ngram_jaccard machinery) and
# an embedding-cosine SEMANTIC ranker, fused per query as
# sum(1/(60 + rank)) over the rankers that returned the doc -- the
# standard hybrid-search shape a RAG/contamination pipeline runs.
#
# 100 TB stance: the query set is FIXED and tiny (|Q| = 3 query docs),
# so the semantic side is one broadcast of 3 (vector, norm) rows
# against the corpus (constant-side BNLJ, the 1-row-census discipline
# extended to |Q| rows) and the lexical side broadcasts the |Q| docs'
# postings against the streaming corpus postings (no shuffle at all)
# -- never doc x doc.  Pool depth caps each ranker at RRF_POOL
# rows per query before the fusion join, so fusion state is
# |Q| x 2 x RRF_POOL regardless of corpus size.  Float discipline:
# jaccard and cosine are rounded to 6 BEFORE ranking (both engines
# compute bit-identical doubles: integer ratios, and sequential-fold
# dot products per the dot_sql contract); RRF terms are exact double
# divisions 1/(60+r), summed in the same (lex, sem) order.

RRF_QUERY_IDS = (3, 13, 23)
RRF_POOL = 20
RRF_TOPK = 5
RRF_C = 60


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from operating_system_map_reduce_spark.operators.guards import (
        bounded_broadcast)

    docs = _t(spark, sf_dir, "documents")
    ex = _dd.shingle_postings(docs)
    # broadcast the QUERY side: it is bounded by |Q| = 3 docs'
    # postings regardless of corpus size, so the corpus side streams
    # with NO shuffle at all.  Left to its own estimates the planner
    # picked the reverse build (the lying-estimate class of the plan
    # sweep: both sides sit behind the mapInPandas shingling
    # barrier and read as scan-sized) -- broadcasting the corpus.
    # The ID filter sits BELOW the shingling stage (a filter above a
    # mapInPandas barrier cannot be pushed through it, so the original
    # shape shingled the whole corpus to keep 3 docs), which makes the
    # self-enforcing bound's count job |Q|-doc-sized too.
    q = bounded_broadcast(
        _dd.shingle_postings(docs.filter(F.col("doc_id").isin(*RRF_QUERY_IDS)))
        .select(F.col("doc_id").alias("qid"), F.col("n").alias("n_q"), "s"),
        1_000_000, "retrieval_rrf_fusion query postings",
        sf_dir, "documents.parquet")
    d = ex.select(F.col("doc_id").alias("did"), F.col("n").alias("n_d"), "s")
    shared = (q.join(d, "s").filter(F.col("did") != F.col("qid"))
              .groupBy("qid", "did", "n_q", "n_d")
              .agg(F.count(F.lit(1)).alias("shared")))
    jac = shared.select(
        "qid", "did",
        F.round(F.col("shared")
                / (F.col("n_q") + F.col("n_d") - F.col("shared")), 6)
        .alias("s_lex"))
    wl = Window.partitionBy("qid").orderBy(F.desc("s_lex"), "did")
    lex = (jac.withColumn("r_lex", F.row_number().over(wl))
           .filter(F.col("r_lex") <= RRF_POOL).select("qid", "did", "r_lex"))

    emb = _t(spark, sf_dir, "embeddings")
    e = (emb.select("vec_id", "embedding",
                    F.expr(_sim.norm_sql("embedding")).alias("nrm"))
         .filter(F.col("nrm") > 0))
    qe = (e.filter(F.col("vec_id").isin(*RRF_QUERY_IDS))
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("q_emb"),
                  F.col("nrm").alias("q_nrm")))
    cos = (e.crossJoin(F.broadcast(qe))   # constant |Q|=3-row side
           .filter(F.col("vec_id") != F.col("qid"))
           .select("qid", F.col("vec_id").alias("did"),
                   F.round(F.expr(_sim.dot_sql("embedding", "q_emb"))
                           / (F.col("nrm") * F.col("q_nrm")), 6)
                   .alias("s_sem")))
    ws = Window.partitionBy("qid").orderBy(F.desc("s_sem"), "did")
    sem = (cos.withColumn("r_sem", F.row_number().over(ws))
           .filter(F.col("r_sem") <= RRF_POOL).select("qid", "did", "r_sem"))

    rrf = (F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("r_lex")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("r_sem")),
                        F.lit(0.0)))
    fused = lex.join(sem, ["qid", "did"], "full").withColumn("rrf", rrf)
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), "did")
    return (fused.withColumn("fused_rank", F.row_number().over(wf))
            .filter(F.col("fused_rank") <= RRF_TOPK)
            .select(F.col("qid").alias("query_id"),
                    F.col("fused_rank").cast("long").alias("fused_rank"),
                    F.col("did").alias("doc_id"),
                    F.round("rrf", 6).alias("rrf_score"),
                    F.col("r_lex").isNotNull().cast("long").alias("in_lexical"),
                    F.col("r_sem").isNotNull().cast("long")
                    .alias("in_semantic"))
            .orderBy("query_id", "fused_rank"))


def _rrf_fusion_sql() -> str:
    qids = ", ".join(str(i) for i in RRF_QUERY_IDS)
    dot = (f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
           f"i -> CAST(q.embedding[i] AS DOUBLE) * CAST(d.embedding[i] AS DOUBLE)))")
    nrm = (f"sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}), "
           f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))")
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM toks WHERE len(toks) >= 3
), lexp AS (
  SELECT q.doc_id AS qid, d.doc_id AS did,
         ROUND(CAST(len(list_intersect(q.sh, d.sh)) AS DOUBLE)
               / (len(q.sh) + len(d.sh) - len(list_intersect(q.sh, d.sh))),
               6) AS s_lex
  FROM sh q JOIN sh d ON d.doc_id <> q.doc_id
  WHERE q.doc_id IN ({qids}) AND len(list_intersect(q.sh, d.sh)) > 0
), lex AS (
  SELECT qid, did, r_lex FROM (
    SELECT qid, did,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY s_lex DESC, did) AS r_lex
    FROM lexp
  ) WHERE r_lex <= {RRF_POOL}
), nv AS (
  SELECT * FROM (
    SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
  ) WHERE nrm > 0
), semp AS (
  SELECT q.vec_id AS qid, d.vec_id AS did,
         ROUND({dot} / (q.nrm * d.nrm), 6) AS s_sem
  FROM nv q JOIN nv d ON d.vec_id <> q.vec_id
  WHERE q.vec_id IN ({qids})
), sem AS (
  SELECT qid, did, r_sem FROM (
    SELECT qid, did,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY s_sem DESC, did) AS r_sem
    FROM semp
  ) WHERE r_sem <= {RRF_POOL}
), fused AS (
  SELECT COALESCE(l.qid, s.qid) AS query_id,
         COALESCE(l.did, s.did) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_C} + l.r_lex), 0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_C} + s.r_sem), 0) AS rrf,
         l.r_lex IS NOT NULL AS in_l, s.r_sem IS NOT NULL AS in_s
  FROM lex l FULL JOIN sem s ON l.qid = s.qid AND l.did = s.did
)
SELECT query_id, CAST(rk AS BIGINT) AS fused_rank, doc_id,
       ROUND(rrf, 6) AS rrf_score,
       CAST(in_l AS BIGINT) AS in_lexical, CAST(in_s AS BIGINT) AS in_semantic
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) AS rk
  FROM fused
)
WHERE rk <= {RRF_TOPK}
ORDER BY query_id, fused_rank
"""


RRF_FUSION_SQL = _rrf_fusion_sql()
QUERIES["retrieval_rrf_fusion"] = retrieval_rrf_fusion
ORACLES["retrieval_rrf_fusion"] = RRF_FUSION_SQL


# === multimodal plumbing ====================================================
# The queries() side runs the REAL mapInPandas decode plumbing (with the
# deterministic fake codec); the oracle re-derives the same metadata
# arithmetically from md5(text), so the UDF path itself is what gets
# verified.

def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    decoded = _mm.decode_media(_mm.attach_binary(docs), fake=True)
    return decoded.select(
        "doc_id", "n_bytes", "format", "width", "height", "n_frames"
    ).orderBy("doc_id")


def _hv(c: str) -> str:
    return f"(strpos('0123456789abcdef', {c}) - 1)"


def _mm_oracle_sql() -> str:
    c = [f"substr(md5(text), {i}, 1)" for i in range(1, 9)]
    fmt_idx = f"({_hv(c[1])} % 4)"
    byte1 = f"({_hv(c[2])} * 16 + {_hv(c[3])})"
    byte2 = f"({_hv(c[4])} * 16 + {_hv(c[5])})"
    byte3 = f"({_hv(c[6])} * 16 + {_hv(c[7])})"
    return f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       (['jpeg', 'png', 'wav', 'mp4'])[1 + {fmt_idx}] AS format,
       16 + ({byte1} % 240) AS width,
       16 + ({byte2} % 240) AS height,
       1 + ({byte3} % 32) AS n_frames
FROM documents
ORDER BY doc_id
"""


MULTIMODAL_SQL = _mm_oracle_sql()


QUERIES.update({
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "corpus_novelty_filter": corpus_novelty_filter,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_incremental": dedup_ngram_incremental,
    "dedup_jaccard_ppjoin": dedup_jaccard_ppjoin,
    "similarity_cosine_topk": similarity_cosine_topk,
    "similarity_lsh_buckets": similarity_lsh_buckets,
    "multimodal_metadata": multimodal_metadata,
})

ORACLES.update({
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "corpus_novelty_filter": CORPUS_NOVELTY_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    # the incremental face computes the SAME rows as the full rebuild
    # (append == rebuild, pinned in tests/test_pipeline_ops.py)
    # -- sharing the from-scratch oracle is the point: the driver gate
    # proves the maintenance lifecycle equals the rebuild end-to-end
    "dedup_ngram_incremental": DEDUP_NGRAM_SQL,
    "dedup_jaccard_ppjoin": DEDUP_PPJOIN_SQL,
    "similarity_cosine_topk": SIMILARITY_KNN_SQL,
    "similarity_lsh_buckets": SIMILARITY_LSH_SQL,
    "multimodal_metadata": MULTIMODAL_SQL,
})


# --- multi-table LSH approximate knn ---------------------------------------
# The scale path for similarity search: candidates only from shared
# buckets (4 tables x 4 bits), exact cosine re-rank on candidates.
# The oracle reproduces the identical table/bucket derivation, so the
# approximation itself is what is verified, not ground-truth knn.

def similarity_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.lsh_knn(emb, k=5).orderBy("vec_id", "rank")


def _lsh_knn_oracle_sql() -> str:
    tagged = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sim.table_bucket_sql('embedding', t, duckdb=True)} AS bucket FROM embeddings"
        for t in range(_sim.N_TABLES)
    )
    dot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(qn.embedding[i] AS DOUBLE) * CAST(nn.embedding[i] AS DOUBLE)))"
    )
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    return f"""
WITH tagged AS (
  {tagged}
), cands AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM tagged a JOIN tagged b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
), n AS (
  -- zero vectors are excluded from ANN candidates on both engines
  -- (operators/similarity._drop_zero_vectors): 0/0 cosine is NaN,
  -- which SQL ranks first but numpy drops
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), scored AS (
  SELECT qid, nid, {dot} / (qn.nrm * nn.nrm) AS cosine
  FROM cands JOIN n qn ON qid = qn.vec_id JOIN n nn ON nid = nn.vec_id
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
) t
WHERE rank <= 5
ORDER BY vec_id, rank
"""


SIMILARITY_LSH_KNN_SQL = _lsh_knn_oracle_sql()

QUERIES["similarity_lsh_knn"] = similarity_lsh_knn
ORACLES["similarity_lsh_knn"] = SIMILARITY_LSH_KNN_SQL


# --- embedding-cosine near-duplicate pairs ----------------------------------
# Dedup by embedding: candidate pairs from shared LSH buckets, exact
# cosine >= threshold.  The oracle derives the identical buckets, so
# the LSH candidate generation is itself under test.

def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_near_dup(emb, threshold=0.40).orderBy("id_a", "id_b")


def _emb_dedup_oracle_sql() -> str:
    tagged = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sim.table_bucket_sql('embedding', t, duckdb=True)} AS bucket FROM embeddings"
        for t in range(_sim.N_TABLES)
    )
    dot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(an.embedding[i] AS DOUBLE) * CAST(bn.embedding[i] AS DOUBLE)))"
    )
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    return f"""
WITH tagged AS (
  {tagged}
), cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM tagged a JOIN tagged b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), n AS (
  -- zero vectors are excluded from ANN candidates on both engines
  -- (operators/similarity._drop_zero_vectors): 0/0 cosine is NaN,
  -- which SQL ranks first but numpy drops
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
FROM (
  SELECT id_a, id_b, {dot} / (an.nrm * bn.nrm) AS cosine
  FROM cands JOIN n an ON id_a = an.vec_id JOIN n bn ON id_b = bn.vec_id
) t
WHERE cosine >= 0.40
ORDER BY id_a, id_b
"""


DEDUP_EMBEDDING_SQL = _emb_dedup_oracle_sql()

QUERIES["dedup_embedding_cosine"] = dedup_embedding_cosine
ORACLES["dedup_embedding_cosine"] = DEDUP_EMBEDDING_SQL


# --- SemDeDup: cluster-then-dedup semantic near-duplicate purge -------------
# The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster
# the embedding space, then inside each cluster drop every vector
# within cosine >= t of a lower-id cluster-mate -- the lowest-id
# member of each semantic neighborhood survives.  Differs from
# dedup_embedding_cosine (LSH-candidate PAIR listing) in both candidate
# structure (k-means-style cells, the shape that bounds pair space at
# corpus scale) and output contract (a purge MANIFEST with a
# deterministic survivor per duplicate, like dedup_purge_canonical).
# The oracle reproduces the identical home-cell assignment from the
# lowest-id codebook and the identical left-to-right cosine folds.

def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.semantic_dedup_manifest(emb, threshold=0.40).orderBy("vec_id")


def _semantic_dedup_oracle_sql() -> str:
    dim = _sim.DIM
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    cdot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
    )
    pdot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(an.embedding[i] AS DOUBLE) * CAST(bn.embedding[i] AS DOUBLE)))"
    )
    return f"""
WITH n AS (
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), centroids AS (
  SELECT vec_id AS cell, embedding, nrm AS cn FROM n ORDER BY vec_id LIMIT {_sim.IVF_NLIST}
), home AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM n v CROSS JOIN centroids c
  ) WHERE pr = 1
), pairs AS (
  SELECT hb.vec_id AS vec_id, ha.vec_id AS cand_id,
         {pdot} / (an.nrm * bn.nrm) AS cosine
  FROM home ha JOIN home hb ON ha.cell = hb.cell AND ha.vec_id < hb.vec_id
  JOIN n an ON ha.vec_id = an.vec_id
  JOIN n bn ON hb.vec_id = bn.vec_id
)
SELECT vec_id, keeper_id, ROUND(cosine, 6) AS cosine FROM (
  SELECT vec_id, cand_id AS keeper_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cand_id ASC) AS rn
  FROM pairs WHERE cosine >= 0.40
) WHERE rn = 1
ORDER BY vec_id
"""


DEDUP_SEMANTIC_SQL = _semantic_dedup_oracle_sql()

QUERIES["dedup_semantic"] = dedup_semantic
ORACLES["dedup_semantic"] = DEDUP_SEMANTIC_SQL


# --- SQL function registry, end-to-end --------------------------------------
# Exercises the functions/ tier: the osmr_* scalar functions are
# registered as Spark SQL temporary functions (JVM-side, codegen'd) and
# the whole query text runs through spark.sql -- the engine's SQL
# surface, not the DataFrame API.

def fn_registry_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.functions.registry import ensure_builtins

    ensure_builtins(spark)
    return spark.sql("""
        SELECT d.doc_id,
               osmr_ws_tokens(d.text) AS ws_tokens,
               osmr_bpe_tokens(d.text) AS bpe_est_tokens,
               osmr_fingerprint(d.text) AS fingerprint,
               ROUND(osmr_cosine(e.embedding, reverse(e.embedding)), 6) AS rev_cosine
        FROM {d} d JOIN {e} e ON d.doc_id = e.vec_id
        ORDER BY d.doc_id
    """, d=_t(spark, sf_dir, "documents"), e=_t(spark, sf_dir, "embeddings"))


FN_REGISTRY_SQL = f"""
SELECT d.doc_id,
       len(list_filter(regexp_split_to_array(d.text, '\\s+'), t -> t <> '')) AS ws_tokens,
       COALESCE(CAST(list_sum(list_transform(
           list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), t -> t <> ''),
           w -> CAST(CEIL(LENGTH(w) / 4.0) AS BIGINT))) AS BIGINT), 0) AS bpe_est_tokens,
       md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
       CASE WHEN list_sum(list_transform(range(1, {_sim.DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) > 0
       THEN ROUND(
         list_sum(list_transform(range(1, {_sim.DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(list_reverse(e.embedding)[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
            sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}),
             i -> CAST(list_reverse(e.embedding)[i] AS DOUBLE) * CAST(list_reverse(e.embedding)[i] AS DOUBLE))))),
         6) END AS rev_cosine
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY d.doc_id
"""

QUERIES["fn_registry_doc_stats"] = fn_registry_doc_stats
ORACLES["fn_registry_doc_stats"] = FN_REGISTRY_SQL


# --- multimodal frame sampling ----------------------------------------------
# 1->N fan-out through mapInPandas: every 4th frame of each (fake)
# video payload, one row per frame.  The oracle re-derives n_frames and
# the per-frame md5 from the same arithmetic, so the executor-side
# explode is what gets verified.

def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    frames = _mm.frame_sample(_mm.attach_binary(docs), every_k=4, fake=True)
    return (
        frames.select(
            "doc_id", "frame_idx",
            F.lower(F.hex(F.col("frame"))).alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def _frame_sample_oracle_sql() -> str:
    c = [f"substr(md5(text), {i}, 1)" for i in range(1, 9)]
    byte3 = f"({_hv(c[6])} * 16 + {_hv(c[7])})"
    return f"""
WITH meta AS (
  SELECT doc_id, text, 1 + ({byte3} % 32) AS n_frames
  FROM documents
)
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       md5(text || '|' || CAST(f AS VARCHAR)) AS frame_md5
FROM meta, UNNEST(range(0, n_frames, 4)) AS t(f)
ORDER BY doc_id, frame_idx
"""


MULTIMODAL_FRAMES_SQL = _frame_sample_oracle_sql()

QUERIES["multimodal_frame_sample"] = multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = MULTIMODAL_FRAMES_SQL


# --- multimodal resize -------------------------------------------------------
# Aspect-preserving downscale to a 64x64 box (never upscale), thumbnail
# bytes from the fake codec.  The oracle re-derives the decoded
# dimensions from the payload md5 and replays the same scale
# arithmetic: double division + truncation is IEEE-identical in DuckDB
# and Python, and scale == 1.0 leaves small dims bit-exact.

def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    resized = _mm.resize_media(_mm.attach_binary(docs), target_w=64,
                               target_h=64, fake=True)
    return (
        resized.select(
            "doc_id", "width", "height",
            F.lower(F.hex(F.col("thumb"))).alias("thumb_md5"),
        )
        .orderBy("doc_id")
    )


def _resize_oracle_sql() -> str:
    c = [f"substr(md5(text), {i}, 1)" for i in range(1, 9)]
    byte1 = f"({_hv(c[2])} * 16 + {_hv(c[3])})"
    byte2 = f"({_hv(c[4])} * 16 + {_hv(c[5])})"
    return f"""
WITH meta AS (
  SELECT doc_id, text,
         16 + ({byte1} % 240) AS dw,
         16 + ({byte2} % 240) AS dh
  FROM documents
),
scaled AS (
  SELECT doc_id, text,
         GREATEST(1, CAST(FLOOR(dw * LEAST(64.0 / dw, 64.0 / dh, 1.0)) AS INT)) AS width,
         GREATEST(1, CAST(FLOOR(dh * LEAST(64.0 / dw, 64.0 / dh, 1.0)) AS INT)) AS height
  FROM meta
)
SELECT doc_id, width, height,
       md5(text || '|' || CAST(width AS VARCHAR) || 'x' || CAST(height AS VARCHAR)) AS thumb_md5
FROM scaled
ORDER BY doc_id
"""


MULTIMODAL_RESIZE_SQL = _resize_oracle_sql()

QUERIES["multimodal_resize"] = multimodal_resize
ORACLES["multimodal_resize"] = MULTIMODAL_RESIZE_SQL


# --- multimodal feature extraction ------------------------------------------
# Media -> fixed-dim float vector via mapInPandas; the query reduces
# each vector to an exact dyadic checksum (bytes/256 are exactly
# representable in float32 AND double, so cross-engine equality is
# bit-safe).

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = _mm.extract_features(_mm.attach_binary(docs), fake=True)
    return (
        feats.select(
            "doc_id",
            F.size("features").alias("n_dims"),
            F.expr(
                "aggregate(features, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE))"
            ).alias("feat_sum"),
        )
        .orderBy("doc_id")
    )


def _features_oracle_sql() -> str:
    c = [f"substr(md5(text), {i}, 1)" for i in range(1, 17)]
    bytes_sql = [
        f"({_hv(c[2 * i])} * 16 + {_hv(c[2 * i + 1])})" for i in range(0, 8)
    ]
    total = " + ".join(f"({b} / 256.0)" for b in bytes_sql)
    return f"""
SELECT doc_id, {_mm.FEATURE_DIM} AS n_dims, {total} AS feat_sum
FROM documents
ORDER BY doc_id
"""


MULTIMODAL_FEATURES_SQL = _features_oracle_sql()

QUERIES["multimodal_features"] = multimodal_features
ORACLES["multimodal_features"] = MULTIMODAL_FEATURES_SQL


# --- multimodal_text_curation: the joint-modality admission pipeline -------
# The face the four single-modality queries above build toward: ONE
# per-document curation verdict combining (a) the REAL mapInPandas
# decode path (media metadata via the deterministic codec), (b) the
# JVM-side text expression pipeline (whitespace token count), and (c)
# the embedding table (left-joined norm via the bit-parity fold of
# operators/similarity.py -- docs without a vector stay, norm NULL).
# Keep rule: decodable raster formats at thumbnail size or better with
# a mid-length text.  At 100 TB: decode is Arrow-batched per partition,
# both joins are doc_id-keyed (the embedding side is the smaller table
# at every SF -- AQE picks broadcast or shuffle), nothing collects.

def multimodal_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    decoded = (_mm.decode_media(_mm.attach_binary(docs), fake=True)
               .select("doc_id", "format", "width", "height"))
    ws_toks = F.size(F.filter(F.split(F.col("text"), "\\s+"),
                              lambda t: t != ""))
    text_side = docs.select("doc_id", "lang", ws_toks.alias("ws_tokens"))
    # emb_norm stays RAW (the float-sum discipline): the
    # Spark fold and DuckDB's list_sum are sequentially-associated and
    # bit-identical today, and the tolerance compare absorbs any future
    # sub-ulp divergence -- ROUND(...,6) is what would turn such a
    # divergence into a half-boundary flip (as in q8/q14)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.expr(_sim.norm_sql("embedding")).alias("emb_norm"))
    keep = (F.col("format").isin("jpeg", "png")
            & (F.col("width") >= 32) & (F.col("height") >= 32)
            & F.col("ws_tokens").between(10, 1000))
    return (decoded.join(text_side, "doc_id")
            .join(emb, "doc_id", "left")
            .select("doc_id", "format", "lang", "ws_tokens",
                    "width", "height", "emb_norm",
                    keep.cast("long").alias("keep"))
            .orderBy("doc_id"))


def _mm_text_curation_sql() -> str:
    c = [f"substr(md5(text), {i}, 1)" for i in range(1, 9)]
    fmt_idx = f"({_hv(c[1])} % 4)"
    byte1 = f"({_hv(c[2])} * 16 + {_hv(c[3])})"
    byte2 = f"({_hv(c[4])} * 16 + {_hv(c[5])})"
    return f"""
WITH decoded AS (
  SELECT doc_id,
         (['jpeg', 'png', 'wav', 'mp4'])[1 + {fmt_idx}] AS format,
         16 + ({byte1} % 240) AS width,
         16 + ({byte2} % 240) AS height,
         lang,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         t -> t <> '')) AS ws_tokens
  FROM documents
)
SELECT d.doc_id, d.format, d.lang, d.ws_tokens, d.width, d.height,
       sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS emb_norm,
       CAST(CASE WHEN d.format IN ('jpeg', 'png')
                  AND d.width >= 32 AND d.height >= 32
                  AND d.ws_tokens BETWEEN 10 AND 1000
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM decoded d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
ORDER BY d.doc_id
"""


MULTIMODAL_TEXT_CURATION_SQL = _mm_text_curation_sql()

QUERIES["multimodal_text_curation"] = multimodal_text_curation
ORACLES["multimodal_text_curation"] = MULTIMODAL_TEXT_CURATION_SQL


# --- tf-idf top terms per language ------------------------------------------
# Classic corpus statistics, fully declarative: explode tokens, two
# hash aggregates (term frequency per lang, document frequency over the
# corpus), join the df table back, window top-k.  Both engines compute
# ln() on identical doubles; ties (equal tf and df) break on the term
# itself.  Round-7 plan fixes: document frequency explodes
# array_distinct(toks) per doc -- per-doc term dedup is map-side, so
# the old corpus-wide (doc_id, term) DISTINCT shuffle disappears; and
# the df side carries NO broadcast hint (it is vocabulary-sized and
# grows with the corpus -- AQE broadcasts it at test SFs and falls
# back to a keyed shuffle join at scale, the same rule as the PMI
# vocabulary tables).

def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != "")
    exploded = docs.select("doc_id", "lang", F.explode(toks).alias("term"))
    n_docs = docs.count()
    tf = exploded.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (docs.select(F.explode(F.array_distinct(toks)).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(dfreq, "term")
              .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))))
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("lang", "rank", "term", "tf", "df",
                    F.round("tfidf", 6).alias("tfidf"))
            .orderBy("lang", "rank"))


TFIDF_SQL = """
WITH exploded AS (
  SELECT doc_id, lang, t AS term
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS u(t)
), tf AS (
  SELECT lang, term, COUNT(*) AS tf FROM exploded GROUP BY lang, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM exploded) GROUP BY term
), ndocs AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT tf.lang, tf.term, tf.tf, dfreq.df,
         tf.tf * ln(CAST(ndocs.n AS DOUBLE) / dfreq.df) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN ndocs
)
SELECT lang, rank, term, tf, df, ROUND(tfidf, 6) AS tfidf
FROM (
  SELECT lang, term, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) t
WHERE rank <= 3
ORDER BY lang, rank
"""

QUERIES["text_tfidf_top_terms"] = text_tfidf_top_terms
ORACLES["text_tfidf_top_terms"] = TFIDF_SQL


# --- BM25 top-k retrieval ---------------------------------------------------
# Okapi BM25 (Robertson et al.; the Lucene-default positive idf
# ln(1 + (N - df + .5)/(df + .5))) scoring the corpus against a fixed
# query-term set, returning the top-10 documents.  The retrieval face
# a training-data pipeline needs for quality-targeted sampling and
# contamination probes.  100 TB stance: with a FIXED query-term set
# there is no reason to explode the corpus into (doc, term) rows at
# all -- per-doc tf for each query term and the doc length are ARRAY
# EXPRESSIONS on the token array (size + size-of-filter, whole-stage
# codegen, zero shuffle), so the whole query is two corpus scans --
# one feeding the 1-row stats aggregate (n/avgdl/df per term, attached
# via broadcast), one scoring -- and a TakeOrderedAndProject for the
# cut.  Compare the naive explode/groupBy formulation: four corpus
# scans and a token-stream shuffle of every (doc, term) pair.  Ranking ties break on ROUND(score, 6) then doc_id so
# cross-engine ulp noise cannot reorder the cut.

_BM25_TERMS = ("hash", "join", "vector")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 10


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != "")
    def tok_eq(term: str):
        # a one-parameter lambda per term: a default-arg capture would
        # make pyspark pass the (element, index) pair instead
        return lambda t: t == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, tok_eq(term))).cast("double").alias(f"tf_{i}")
        for i, term in enumerate(_BM25_TERMS)
    ]
    per_doc = docs.select("doc_id", F.size(toks).cast("double").alias("dl"),
                          *tf_cols)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
          for i in range(len(_BM25_TERMS))])
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)

    def idf(i: int):
        return F.log(1.0 + (F.col("n") - F.col(f"df_{i}") + 0.5)
                     / (F.col(f"df_{i}") + 0.5))

    def w(i: int):
        tf = F.col(f"tf_{i}")
        return idf(i) * (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))

    score = sum((w(i) for i in range(1, len(_BM25_TERMS))), w(0))
    n_terms = sum((F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)
                   for i in range(1, len(_BM25_TERMS))),
                  F.when(F.col("tf_0") > 0, 1).otherwise(0))
    return (per_doc.crossJoin(F.broadcast(stats))
            .filter(sum((F.col(f"tf_{i}") for i in range(1, len(_BM25_TERMS))),
                        F.col("tf_0")) > 0)
            .select("doc_id", F.round(score, 6).alias("score"),
                    n_terms.cast("long").alias("n_terms"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(_BM25_TOPK))


BM25_SQL = f"""
WITH exploded AS (
  SELECT doc_id, t AS term
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS u(t)
), dl AS (
  -- LEFT JOIN from documents: zero-token docs keep dl = 0 so avgdl is
  -- the COLLECTION average (the BM25 convention and what the Spark
  -- side computes); deriving dl from exploded alone silently drops
  -- empty docs and shifts every score
  SELECT d.doc_id, COALESCE(e.cnt, 0) AS dl
  FROM documents d LEFT JOIN (
    SELECT doc_id, COUNT(*) AS cnt FROM exploded GROUP BY doc_id
  ) e USING (doc_id)
), stats AS (
  SELECT AVG(dl) AS avgdl FROM dl
), ndocs AS (
  SELECT COUNT(*) AS n FROM documents
), qtf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM exploded
  WHERE term IN {_BM25_TERMS} GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df,
         ln(1.0 + ((SELECT n FROM ndocs) - COUNT(*) + 0.5)
                  / (COUNT(*) + 0.5)) AS idf
  FROM qtf GROUP BY term
)
SELECT doc_id, ROUND(SUM(w), 6) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM (
  SELECT qtf.doc_id,
         dfreq.idf * (qtf.tf * ({_BM25_K1} + 1))
         / (qtf.tf + {_BM25_K1} * (1 - {_BM25_B}
            + {_BM25_B} * dl.dl / (SELECT avgdl FROM stats))) AS w
  FROM qtf JOIN dfreq USING (term) JOIN dl USING (doc_id)
)
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
"""

QUERIES["text_bm25_topk"] = text_bm25_topk
ORACLES["text_bm25_topk"] = BM25_SQL


# --- IVF approximate knn -----------------------------------------------------
# The trained-codebook-free IVF: centroids are the NLIST lowest-id
# vectors, assignment is argmax cosine over the broadcast centroid
# table, queries probe the NPROBE nearest cells.

def similarity_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.ivf_knn(emb, k=5).orderBy("vec_id", "rank")


def _ivf_knn_oracle_sql() -> str:
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    cdot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
    )
    qdot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(qn.embedding[i] AS DOUBLE) * CAST(nn.embedding[i] AS DOUBLE)))"
    )
    return f"""
WITH n AS (
  -- zero-vector exclusion: see _drop_zero_vectors
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), centroids AS (
  SELECT vec_id AS cell, embedding, nrm AS cn FROM n ORDER BY vec_id LIMIT {_sim.IVF_NLIST}
), cells AS (
  SELECT vec_id, probe_rank, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS probe_rank
    FROM n v CROSS JOIN centroids c
  ) t WHERE probe_rank <= {_sim.IVF_NPROBE}
), cands AS (
  SELECT DISTINCT p.vec_id AS qid, i.vec_id AS nid
  FROM cells p JOIN (SELECT vec_id, cell FROM cells WHERE probe_rank = 1) i
    ON p.cell = i.cell AND p.vec_id <> i.vec_id
), scored AS (
  SELECT qid, nid, {qdot} / (qn.nrm * nn.nrm) AS cosine
  FROM cands JOIN n qn ON qid = qn.vec_id JOIN n nn ON nid = nn.vec_id
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
) t
WHERE rank <= 5
ORDER BY vec_id, rank
"""


SIMILARITY_IVF_SQL = _ivf_knn_oracle_sql()


# --- IVF search: query batch vs indexed corpus ---------------------------
# The SERVING shape (queries never neighbor each other): corpus =
# vec_id % 10 <> 7 indexed once, query batch = vec_id % 10 == 7 probes
# its NPROBE nearest cells.

def similarity_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
    queries = emb.filter(F.col("vec_id") % 10 == 7)
    return _sim.ivf_search(corpus, queries, k=5).orderBy("vec_id", "rank")


def _ivf_search_oracle_sql() -> str:
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    cdot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
    )
    qdot = (
        f"list_sum(list_transform(range(1, {_sim.DIM + 1}), "
        f"i -> CAST(qn.embedding[i] AS DOUBLE) * CAST(nn.embedding[i] AS DOUBLE)))"
    )
    return f"""
WITH n AS (
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), corpus AS (
  SELECT * FROM n WHERE vec_id % 10 <> 7
), qset AS (
  SELECT * FROM n WHERE vec_id % 10 = 7
), centroids AS (
  SELECT vec_id AS cell, embedding, nrm AS cn FROM corpus ORDER BY vec_id LIMIT {_sim.IVF_NLIST}
), home AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM corpus v CROSS JOIN centroids c
  ) WHERE pr = 1
), probes AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM qset v CROSS JOIN centroids c
  ) WHERE pr <= {_sim.IVF_NPROBE}
), cands AS (
  SELECT DISTINCT p.vec_id AS qid, h.vec_id AS nid
  FROM probes p JOIN home h ON p.cell = h.cell
), scored AS (
  SELECT qid, nid, {qdot} / (qn.nrm * nn.nrm) AS cosine
  FROM cands JOIN n qn ON qid = qn.vec_id JOIN n nn ON nid = nn.vec_id
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY vec_id, rank
"""


SIMILARITY_IVF_SEARCH_SQL = _ivf_search_oracle_sql()

QUERIES["similarity_ivf_search"] = similarity_ivf_search
ORACLES["similarity_ivf_search"] = SIMILARITY_IVF_SEARCH_SQL

QUERIES["similarity_ivf_knn"] = similarity_ivf_knn
ORACLES["similarity_ivf_knn"] = SIMILARITY_IVF_SQL


# === composed corpus curation ===============================================
# The end-to-end training-data pipeline shape, as ONE declarative plan:
# exact-dedup (canonical doc per fingerprint) -> quality gate
# (alpha ratio + token-count band) -> per-language corpus stats.
# Composition costs nothing extra in Spark: Catalyst collapses the
# whole flow into a narrow scan + two shuffles (fingerprint window,
# language agg) with every scalar in codegen.  Ratio-of-sums (exact
# BIGINT sums, one final division) keeps the aggregate bit-stable
# across partitionings -- a per-doc AVG would associate differently in
# Spark and DuckDB.

def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), "\\s+"), lambda t: t != ""))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        docs.select(
            "doc_id", "lang", F.md5("text").alias("fp"),
            n_chars.alias("n_chars"), n_alpha.alias("n_alpha"),
            n_tok.alias("n_tokens"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # n_chars > 0 guards the ratio against empty docs (which could
        # never pass the 20-token floor anyway) -- ANSI mode would
        # otherwise abort on the division, not filter the row
        .filter((F.col("n_chars") > 0)
                & (F.col("n_alpha") / F.col("n_chars") >= 0.80)
                & F.col("n_tokens").between(20, 95))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.sum("n_alpha") / F.sum("n_chars"), 6).alias("alpha_pct"),
        )
        .orderBy("lang")
    )


CORPUS_CURATION_SQL = """
WITH scored AS (
  SELECT doc_id, lang, md5(text) AS fp,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens
  FROM documents
),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
kept AS (
  SELECT * FROM dedup
  WHERE n_chars > 0 AND n_alpha * 1.0 / n_chars >= 0.80
    AND n_tokens BETWEEN 20 AND 95
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(n_alpha) AS BIGINT) * 1.0 / CAST(SUM(n_chars) AS BIGINT), 6) AS alpha_pct
FROM kept
GROUP BY lang
ORDER BY lang
"""

QUERIES["pipeline_corpus_curation"] = pipeline_corpus_curation
ORACLES["pipeline_corpus_curation"] = CORPUS_CURATION_SQL


# --- embedding_pq_codes: product-quantization code census ------------------
# The compression half of the IVF-PQ ANN stack (similarity_ivf_knn is
# the search half): every vector's PQ_M subvectors snap to a
# deterministic 16-entry codebook per subspace (operators/similarity.
# pq_codes -- the no-training lowest-id rule IVF's centroid table
# uses), and this query grades the code book: per (subspace, code) the
# assignment count and accumulated squared error.  Output cardinality
# PQ_M x PQ_K; the assignment itself is map-side Arrow with the
# codebook as a closed-over constant, so the census's groupBy is the
# plan's only shuffle.

def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    codes = _sim.pq_codes(emb)
    return (
        codes.groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(F.sum("sq_err"), 6).alias("total_sq_err"),
        )
        .coalesce(1).orderBy("subspace", "code")
    )


def _pq_oracle_sql() -> str:
    m, sub, k = _sim.PQ_M, _sim.PQ_SUB, _sim.PQ_K
    return f"""
WITH cb AS (
  SELECT vec_id AS cid, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT {k}
), dists AS (
  SELECT e.vec_id, s.s AS subspace, cb.cid,
         list_sum(list_transform(range(1, {sub} + 1),
           i -> (CAST(e.embedding[s.s * {sub} + i] AS DOUBLE)
                 - CAST(cb.cv[s.s * {sub} + i] AS DOUBLE))
              * (CAST(e.embedding[s.s * {sub} + i] AS DOUBLE)
                 - CAST(cb.cv[s.s * {sub} + i] AS DOUBLE)))) AS d2
  FROM embeddings e
  CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
  CROSS JOIN cb
), assigned AS (
  SELECT vec_id, subspace, cid, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                 ORDER BY d2, cid) AS rn
    FROM dists
  ) WHERE rn = 1
)
SELECT CAST(subspace AS INTEGER) AS subspace, cid AS code,
       COUNT(*) AS n_assigned,
       ROUND(SUM(d2), 6) AS total_sq_err
FROM assigned
GROUP BY subspace, cid
ORDER BY subspace, code
"""


EMBEDDING_PQ_SQL = _pq_oracle_sql()

QUERIES["embedding_pq_codes"] = embedding_pq_codes
ORACLES["embedding_pq_codes"] = EMBEDDING_PQ_SQL


# --- IVF-PQ search: compressed-index serving ANN ---------------------------
# The full IVF-PQ stack in one query: IVF candidate generation (home
# cells + NPROBE probes, identical to similarity_ivf_search) scored by
# cosine against PQ-RECONSTRUCTED corpus vectors -- the index holds
# PQ_M codes per vector, not DIM floats (an 8x residency cut at these
# shapes; the 100 TB vector-serving layout).  Reconstruction snaps each
# subvector to the deterministic corpus codebook (operators/similarity.
# ivfpq_search), and the oracle rebuilds the identical float32 arrays
# via flatten(list(codebook slice ORDER BY subspace)), so every scoring
# double matches bit-for-bit.

def similarity_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
    queries = emb.filter(F.col("vec_id") % 10 == 7)
    return _sim.ivfpq_search(corpus, queries, k=5).orderBy("vec_id", "rank")


def _ivfpq_oracle_sql() -> str:
    dim, m, sub, kcb = _sim.DIM, _sim.PQ_M, _sim.PQ_SUB, _sim.PQ_K
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    cdot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"
    )
    sq = (
        f"(CAST(v.embedding[s.s * {sub} + i] AS DOUBLE)"
        f" - CAST(cb.cv[s.s * {sub} + i] AS DOUBLE))"
    )
    return f"""
WITH n AS (
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), corpus AS (
  SELECT * FROM n WHERE vec_id % 10 <> 7
), qset AS (
  SELECT * FROM n WHERE vec_id % 10 = 7
), centroids AS (
  SELECT vec_id AS cell, embedding, nrm AS cn FROM corpus ORDER BY vec_id LIMIT {_sim.IVF_NLIST}
), cb AS (
  SELECT vec_id AS cid, embedding AS cv FROM corpus ORDER BY vec_id LIMIT {kcb}
), home AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM corpus v CROSS JOIN centroids c
  ) WHERE pr = 1
), probes AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM qset v CROSS JOIN centroids c
  ) WHERE pr <= {_sim.IVF_NPROBE}
), pqd AS (
  SELECT v.vec_id, s.s AS subspace, cb.cid,
         list_sum(list_transform(range(1, {sub} + 1),
           i -> {sq} * {sq})) AS d2
  FROM corpus v
  CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
  CROSS JOIN cb
), assigned AS (
  SELECT vec_id, subspace, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                 ORDER BY d2, cid) AS rn
    FROM pqd
  ) WHERE rn = 1
), recon AS (
  SELECT a.vec_id,
         flatten(list(list_slice(cb.cv, a.subspace * {sub} + 1,
                                 a.subspace * {sub} + {sub})
                      ORDER BY a.subspace)) AS rv
  FROM assigned a JOIN cb ON a.cid = cb.cid
  GROUP BY a.vec_id
), recon_n AS (
  SELECT vec_id, rv,
         sqrt(list_sum(list_transform(range(1, {dim + 1}),
           i -> CAST(rv[i] AS DOUBLE) * CAST(rv[i] AS DOUBLE)))) AS rn
  FROM recon
), cands AS (
  SELECT DISTINCT p.vec_id AS qid, h.vec_id AS nid
  FROM probes p JOIN home h ON p.cell = h.cell
), scored AS (
  SELECT qid, nid,
         list_sum(list_transform(range(1, {dim + 1}),
           i -> CAST(qn.embedding[i] AS DOUBLE) * CAST(r.rv[i] AS DOUBLE)))
           / (qn.nrm * r.rn) AS cosine
  FROM cands JOIN n qn ON qid = qn.vec_id
  JOIN recon_n r ON nid = r.vec_id
  WHERE r.rn > 0
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY vec_id, rank
"""


SIMILARITY_IVFPQ_SQL = _ivfpq_oracle_sql()

QUERIES["similarity_ivfpq_search"] = similarity_ivfpq_search
ORACLES["similarity_ivfpq_search"] = SIMILARITY_IVFPQ_SQL


# --- IVF-PQ with TRAINED codebooks: the production serving default ----------
# Same corpus/query split and plan shape as similarity_ivfpq_search, but
# both quantizers are k-means-TRAINED (operators/similarity.
# trained_codebooks) instead of lowest-id -- the configuration a real
# deployment serves, now registered and benched so its cost is measured
# per round.  Training is memoized per corpus snapshot (tables.derived,
# so an in-place regeneration retrains): a production job trains once
# per snapshot and persists the two small matrices, so serving cost -- not training cost -- is the steady
# state this query times.  SQL-oracled by UNROLLING the
# fixed-count Lloyd iterations as a chained CTE (the same
# finite-deterministic-iteration precedent as pagerank_neardup's
# unrolled CTE and the novelty cascade's wave unroll): deterministic
# init (lowest-id rows / their subvectors), ITERS assignment+update
# stages for both quantizers, float32 codebook snap mirrored with
# CAST(x AS REAL).  Training means differ cross-engine by summation
# order only (~1 ulp); the serving folds are the bit-matched
# left-to-right forms of the untrained oracle, and the visible cosine
# is ROUND(...,6), so the hash is stable unless an assignment
# genuinely flips -- verified green at sf0.001 and sf0.01.  Quality is
# additionally pinned by the recall-vs-brute-force and
# distortion-reduction tests in tests/test_mining_ops.py.

def similarity_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
    queries = emb.filter(F.col("vec_id") % 10 == 7)
    codebooks = derived(spark, sf_dir, "embeddings.parquet",
                        "similarity_ivfpq_trained",
                        lambda: _sim.trained_codebooks(corpus, iters=5))
    return (_sim.ivfpq_search(corpus, queries, k=5, codebooks=codebooks)
            .orderBy("vec_id", "rank"))


def _ivfpq_trained_oracle_sql(iters: int = 5, k: int = 5) -> str:
    """Unrolled deterministic-Lloyd oracle for the trained IVF-PQ stack.

    Training half: ``iters`` chained CTE stages per
    quantizer.  IVF is spherical k-means over unit vectors -- assignment
    ranks dot(u, centroid) DESC with cell ASC tie-break (numpy argmax =
    first max), update is the normalized per-cell mean with empty cells
    keeping their previous direction.  PQ is per-subspace L2 Lloyd --
    assignment mirrors the numpy form ``-2*x.c + c.c`` exactly (NOT the
    algebraically-equal full square: same argmin, different ulp), code
    ASC tie-break, empty codes keep their previous entry.  The final PQ
    codebook snaps to float32 via CAST(x AS REAL) to mirror
    ``CBS.astype(np.float32)``.

    Serving half: identical structure to SIMILARITY_IVFPQ_SQL with the
    trained CTEs swapped in for the lowest-id codebooks; reconstruction
    distance uses the full (x-c)^2 form because the serving-side numpy
    (operators/similarity._ivf_search_core) does.  Cross-engine float
    noise enters only through training-mean summation order (~1 ulp);
    the visible cosine is ROUND(...,6) so the value hash tolerates it."""
    dim, m, sub = _sim.DIM, _sim.PQ_M, _sim.PQ_SUB
    kcb, nlist, nprobe = _sim.PQ_K, _sim.IVF_NLIST, _sim.IVF_NPROBE
    nrm = (
        f"sqrt(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))"
    )
    parts = [f"""
WITH n AS (
  SELECT * FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings) WHERE nrm > 0
), corpus AS (
  SELECT * FROM n WHERE vec_id % 10 <> 7
), qset AS (
  SELECT * FROM n WHERE vec_id % 10 = 7
), dims AS (
  SELECT unnest(range(1, {dim + 1})) AS i
), subdims AS (
  SELECT unnest(range(1, {sub + 1})) AS i
), subsp AS (
  SELECT unnest(range(0, {m})) AS s
), u AS (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}),
           i -> CAST(embedding[i] AS DOUBLE) / nrm) AS uv
  FROM corpus
), c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(range(1, {dim + 1}),
           i -> CAST(embedding[i] AS DOUBLE)
                / sqrt(list_sum(list_transform(range(1, {dim + 1}),
                    j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))))) AS cv
  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT {nlist})
), pv AS (
  SELECT v.vec_id, s.s,
         list_transform(range(1, {sub + 1}),
           i -> CAST(v.embedding[s.s * {sub} + i] AS DOUBLE)) AS xv
  FROM corpus v CROSS JOIN subsp s
), k0 AS (
  SELECT s.s, ROW_NUMBER() OVER (PARTITION BY s.s ORDER BY b.vec_id) - 1 AS code,
         list_transform(range(1, {sub + 1}),
           i -> CAST(b.embedding[s.s * {sub} + i] AS DOUBLE)) AS cv
  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT {kcb}) b
  CROSS JOIN subsp s
)"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f""", a{t} AS (
  SELECT vec_id, cell FROM (
    SELECT u.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY u.vec_id
             ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                        i -> u.uv[i] * c.cv[i])) DESC, c.cell ASC) AS rn
    FROM u CROSS JOIN c{p} c
  ) WHERE rn = 1
), g{t} AS (
  SELECT cell, list(sv / cnt ORDER BY i) AS mv
  FROM (SELECT a.cell, d.i, SUM(u.uv[d.i]) AS sv, COUNT(*) AS cnt
        FROM a{t} a JOIN u USING (vec_id) CROSS JOIN dims d
        GROUP BY a.cell, d.i)
  GROUP BY cell
), c{t} AS (
  SELECT p.cell,
         CASE WHEN g.mv IS NULL THEN p.cv
              WHEN sqrt(list_sum(list_transform(g.mv, x -> x * x))) = 0 THEN g.mv
              ELSE list_transform(g.mv,
                x -> x / sqrt(list_sum(list_transform(g.mv, y -> y * y)))) END AS cv
  FROM c{p} p LEFT JOIN g{t} g USING (cell)
), pa{t} AS (
  SELECT vec_id, s, code FROM (
    SELECT p.vec_id, p.s, kb.code,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.s
             ORDER BY -2.0 * list_sum(list_transform(range(1, {sub + 1}),
                        i -> p.xv[i] * kb.cv[i]))
                      + list_sum(list_transform(kb.cv, x -> x * x)) ASC,
                      kb.code ASC) AS rn
    FROM pv p JOIN k{p} kb ON p.s = kb.s
  ) WHERE rn = 1
), pg{t} AS (
  SELECT s, code, list(sv / cnt ORDER BY i) AS mv
  FROM (SELECT a.s, a.code, d.i, SUM(p.xv[d.i]) AS sv, COUNT(*) AS cnt
        FROM pa{t} a JOIN pv p ON a.vec_id = p.vec_id AND a.s = p.s
        CROSS JOIN subdims d
        GROUP BY a.s, a.code, d.i)
  GROUP BY s, code
), k{t} AS (
  SELECT p.s, p.code, COALESCE(g.mv, p.cv) AS cv
  FROM k{p} p LEFT JOIN pg{t} g ON p.s = g.s AND p.code = g.code
)""")
    cdot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST(v.embedding[i] AS DOUBLE) * c.cv[i]))"
    )
    parts.append(f""", centroids AS (
  SELECT cell, cv,
         sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
  FROM c{iters}
), cb32 AS (
  SELECT s, code,
         list_transform(cv, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS cv
  FROM k{iters}
), home AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM corpus v CROSS JOIN centroids c
  ) WHERE pr = 1
), probes AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {cdot} / (v.nrm * c.cn) DESC, c.cell ASC) AS pr
    FROM qset v CROSS JOIN centroids c
  ) WHERE pr <= {nprobe}
), assigned AS (
  SELECT vec_id, s, code FROM (
    SELECT p.vec_id, p.s, kb.code,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.s
             ORDER BY list_sum(list_transform(range(1, {sub + 1}),
                        i -> (p.xv[i] - kb.cv[i]) * (p.xv[i] - kb.cv[i]))) ASC,
                      kb.code ASC) AS rn
    FROM pv p JOIN cb32 kb ON p.s = kb.s
  ) WHERE rn = 1
), recon AS (
  SELECT a.vec_id,
         flatten(list(kb.cv ORDER BY a.s)) AS rv
  FROM assigned a JOIN cb32 kb ON a.s = kb.s AND a.code = kb.code
  GROUP BY a.vec_id
), recon_n AS (
  SELECT vec_id, rv,
         sqrt(list_sum(list_transform(range(1, {dim + 1}),
           i -> rv[i] * rv[i]))) AS rn
  FROM recon
), cands AS (
  SELECT DISTINCT p.vec_id AS qid, h.vec_id AS nid
  FROM probes p JOIN home h ON p.cell = h.cell
), scored AS (
  SELECT qid, nid,
         list_sum(list_transform(range(1, {dim + 1}),
           i -> CAST(qn.embedding[i] AS DOUBLE) * r.rv[i]))
           / (qn.nrm * r.rn) AS cosine
  FROM cands JOIN n qn ON qid = qn.vec_id
  JOIN recon_n r ON nid = r.vec_id
  WHERE r.rn > 0
)
SELECT qid AS vec_id, rank, nid AS neighbor_id, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, nid, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY vec_id, rank
""")
    return "".join(parts)


SIMILARITY_IVFPQ_TRAINED_SQL = _ivfpq_trained_oracle_sql()

QUERIES["similarity_ivfpq_trained"] = similarity_ivfpq_trained
ORACLES["similarity_ivfpq_trained"] = SIMILARITY_IVFPQ_TRAINED_SQL
