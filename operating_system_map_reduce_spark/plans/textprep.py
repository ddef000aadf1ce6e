"""Training-data text-prep operators beyond the curation tier:
PII redaction, span-level exact dedup, composite quality filtering,
deterministic domain mixing, and unigram-LM quality scoring.

Every query here is oracled in DuckDB via engine-shared SQL templates
(the md5 hex-decode trick from operators/dedup.py), and every plan
keeps the 100 TB shape rules: tokenization and per-doc scoring are
map-side; the only shuffles are keyed aggregations; corpus-level
statistics ride broadcast joins back onto the big side.

The synthetic documents are single-line word salads, so operators that
need structure the testdata lacks (PII strings) INJECT it
deterministically first -- both engines replay the same injection, so
the redaction path is exercised end-to-end with nonzero counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.operators.dedup import (hexval_spark_sql,
                                                                hexval_sql)
from operating_system_map_reduce_spark.sources.tables import load_table as _t

# ---------------------------------------------------------------------------
# PII scrub: regex redaction with per-class counts.
#
# Patterns are deliberately conservative and dialect-portable (same
# semantics under Java regex and RE2): no backrefs, no lookaround.
# Scale shape: pure map-side regexp_replace (JVM codegen); the only
# shuffle is the final per-source rollup.

EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject deterministic fake PII into ~1/3 of docs, then scrub.

    Injection (replayed identically by the oracle): docs whose
    md5-derived bucket is 0 get an email, bucket 1 a phone number,
    others nothing.  Output: per-source redaction counts plus an
    md5 over all scrubbed text (order-insensitive: xor-free sum of
    per-doc hash prefixes) proving both engines redacted identically.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    d = docs.withColumn(
        "hx", F.md5(F.concat(F.lit("pii|"), F.col("doc_id").cast("string")))
    ).withColumn("bucket", F.expr(hexval_spark_sql("hx")) % 3)
    injected = d.withColumn(
        "text2",
        F.when(F.col("bucket") == 0,
               F.concat(F.col("text"), F.lit(" contact me at user"),
                        F.col("doc_id").cast("string"), F.lit("@example.com")))
         .when(F.col("bucket") == 1,
               F.concat(F.col("text"), F.lit(" call +1-555-000-"),
                        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0")))
         .otherwise(F.col("text")),
    )
    scrubbed = injected.select(
        "doc_id", "source",
        F.size(F.split(F.col("text2"), EMAIL_RE)).alias("n_email_p1"),
        F.size(F.split(F.col("text2"), PHONE_RE)).alias("n_phone_p1"),
        F.regexp_replace(
            F.regexp_replace(F.col("text2"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>").alias("clean"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_email_p1") - F.count(F.lit(1))).alias("n_emails"),
            (F.sum("n_phone_p1") - F.count(F.lit(1))).alias("n_phones"),
            F.sum(F.expr(hexval_spark_sql("md5(clean)"))).alias("clean_sig"),
        )
        .orderBy("source")
    )


TEXT_PII_SQL = f"""
WITH injected AS (
  SELECT doc_id, source,
         CASE
           WHEN ({hexval_sql('hx')}) % 3 = 0
             THEN text || ' contact me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN ({hexval_sql('hx')}) % 3 = 1
             THEN text || ' call +1-555-000-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE text
         END AS text2
  FROM (SELECT doc_id, source, text,
               md5('pii|' || CAST(doc_id AS VARCHAR)) AS hx
        FROM documents)
), scrubbed AS (
  SELECT doc_id, source,
         len(string_split_regex(text2, '{EMAIL_RE}')) AS n_email_p1,
         len(string_split_regex(text2, '{PHONE_RE}')) AS n_phone_p1,
         regexp_replace(
           regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM injected
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_email_p1) - COUNT(*) AS BIGINT) AS n_emails,
       CAST(SUM(n_phone_p1) - COUNT(*) AS BIGINT) AS n_phones,
       CAST(SUM(({hexval_sql('md5(clean)')})) AS BIGINT) AS clean_sig
FROM scrubbed
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Span-level exact dedup: the boilerplate-detection shape.  Documents
# are chunked into non-overlapping W-token spans; identical spans
# recurring across the corpus (repeated boilerplate at web scale) are
# surfaced with their frequency.  Scale shape: chunking is map-side
# (split + slice, no UDF); the single shuffle groups by span hash --
# never by span text (hash first, 32-byte keys, not kilobyte strings).

SPAN_W = 8


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / SPAN_W).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * SPAN_W + 1, SPAN_W)),
    )
    # guard: sequence(0, -1) would COUNT DOWN for sub-W docs; null chunks
    # make explode drop the row instead
    exploded = (
        docs.withColumn("chunk", F.explode(F.when(n_chunks >= 1, chunks)))
        .select(F.md5(F.col("chunk")).alias("span_hash"), "doc_id")
    )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), "span_hash")
        .limit(50)
    )


DEDUP_SPAN_SQL = f"""
WITH expl AS (
  SELECT doc_id, toks, unnest(range(0, len(toks) // {SPAN_W})) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(toks[(i * {SPAN_W} + 1):(i * {SPAN_W} + {SPAN_W})], ' ')) AS span_hash
  FROM expl
)
SELECT span_hash, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
FROM chunks
GROUP BY span_hash
HAVING COUNT(*) > 1
ORDER BY n_occurrences DESC, span_hash
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Composite quality filter: Gopher-style rule cascade.  Each doc gets
# the FIRST failing rule as its drop reason (or 'keep'); the output is
# the per-reason census a pipeline operator reads to tune thresholds.
# Entirely map-side until the census shuffle; expression-only (codegen).

QF_MIN_WORDS = 30
QF_MEAN_WLEN_LO = 3.0
QF_MEAN_WLEN_HI = 8.0
QF_MIN_UNIQ = 0.45
STOPWORDS = ("the", "a", "of", "and")


def quality_filter_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_words"),
        (F.length(F.translate(F.col("text"), " ", "")) / F.size(toks)).alias("mean_wlen"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("uniq_ratio"),
        F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS])))
         .alias("n_stop_kinds"),
    )
    reason = (
        F.when(F.col("n_words") < QF_MIN_WORDS, "too_short")
        .when((F.col("mean_wlen") < QF_MEAN_WLEN_LO)
              | (F.col("mean_wlen") > QF_MEAN_WLEN_HI), "word_len")
        .when(F.col("n_stop_kinds") == 0, "no_stopwords")
        .when(F.col("uniq_ratio") < QF_MIN_UNIQ, "repetitive")
        .otherwise("keep")
    )
    return (
        d.select("lang", reason.alias("verdict"), "doc_id")
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang", "verdict")
    )


QUALITY_FILTER_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         len(toks) AS n_words,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_wlen,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
         len(list_intersect(toks, {list(STOPWORDS)!r})) AS n_stop_kinds
  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents)
)
SELECT lang,
       CASE
         WHEN n_words < {QF_MIN_WORDS} THEN 'too_short'
         WHEN mean_wlen < {QF_MEAN_WLEN_LO} OR mean_wlen > {QF_MEAN_WLEN_HI} THEN 'word_len'
         WHEN n_stop_kinds = 0 THEN 'no_stopwords'
         WHEN uniq_ratio < {QF_MIN_UNIQ} THEN 'repetitive'
         ELSE 'keep'
       END AS verdict,
       COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM d
GROUP BY lang, verdict ORDER BY lang, verdict
"""


# ---------------------------------------------------------------------------
# Deterministic domain mixing: per-source admission rates (derived from
# the source name, stable as sources appear/disappear) applied via a
# per-doc md5 coin -- the coordination-free sampling a 100 TB mixer
# needs: no global state, no second pass, adding docs never reassigns
# existing ones.  Pure map-side until the census.

def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    d = docs.select(
        "doc_id", "source",
        (F.expr(hexval_spark_sql("md5(concat('rate|', source))")) % 50 + 50).alias("rate_pct"),
        (F.expr(hexval_spark_sql("md5(concat('mix|', cast(doc_id as string)))")) % 100)
            .alias("coin"),
    )
    return (
        d.withColumn("kept", (F.col("coin") < F.col("rate_pct")).cast("int"))
        .groupBy("source")
        .agg(
            F.max("rate_pct").alias("rate_pct"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
        .orderBy("source")
    )


DOMAIN_MIX_SQL = f"""
SELECT source,
       MAX(rate_pct) AS rate_pct,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN coin < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM (
  SELECT doc_id, source,
         ({hexval_sql("md5('rate|' || source)")}) % 50 + 50 AS rate_pct,
         ({hexval_sql("md5('mix|' || CAST(doc_id AS VARCHAR))")}) % 100 AS coin
  FROM documents
)
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Temperature-scaled domain-mixture weights: the sampling-weight side
# of mixture curation (domain_mix_sample is the admission side).  Each
# source's sampling weight is mass^alpha / sum(mass^alpha) with
# alpha=0.7 -- the temperature-sampling recipe used to up-weight small
# high-quality domains when composing a training mix -- and
# epochs_at_budget converts the weight into passes over the source at
# a fixed char budget (budget * w_i / mass_i), the number that reveals
# when a small domain would be repeated too often at the chosen
# temperature.  Scale shape: one map-side-partial aggregate over the
# corpus produces the |sources|-row frame; the normalizer is a 1-row
# aggregate OF THAT FRAME broadcast back (never a second corpus scan).
# Float discipline: pow/divide run on O(|sources|) values only and both
# visible floats are ROUND(.,6); char_mass sums are integral doubles
# (exact, order-independent), so cross-engine drift is sub-ulp.

MIX_ALPHA = 0.7
MIX_CHAR_BUDGET = 10_000_000


def domain_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("char_mass"),
    )
    z = per.agg(
        F.sum(F.pow(F.col("char_mass").cast("double"), F.lit(MIX_ALPHA)))
        .alias("z"))
    w = (F.pow(F.col("char_mass").cast("double"), F.lit(MIX_ALPHA))
         / F.col("z"))
    return (
        per.crossJoin(F.broadcast(z))
        .select(
            "source", "n_docs",
            F.col("char_mass").cast("long").alias("char_mass"),
            F.round(w, 6).alias("weight"),
            F.round(F.lit(MIX_CHAR_BUDGET) * w / F.col("char_mass"), 6)
            .alias("epochs_at_budget"),
        )
        .orderBy("source")
    )


DOMAIN_TEMPERATURE_SQL = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS char_mass
  FROM documents GROUP BY source
), z AS (
  SELECT SUM(POWER(CAST(char_mass AS DOUBLE), {MIX_ALPHA})) AS z FROM per
)
SELECT source, n_docs, char_mass,
       ROUND(POWER(CAST(char_mass AS DOUBLE), {MIX_ALPHA}) / z, 6) AS weight,
       ROUND({MIX_CHAR_BUDGET} * (POWER(CAST(char_mass AS DOUBLE), {MIX_ALPHA}) / z)
             / char_mass, 6) AS epochs_at_budget
FROM per, z ORDER BY source
"""


# ---------------------------------------------------------------------------
# Unigram LM quality score: the model-based scoring baseline.  Stage 1
# estimates unigram log-probs over the corpus (one keyed agg); stage 2
# scores every doc by mean token log-prob (join tokens->probs, one agg
# per doc).  Scale shape: the unigram table is vocabulary-sized --
# broadcast back onto the token stream, so the 100 TB side shuffles
# once (the per-doc agg), and with AQE the token->prob join is
# broadcast automatically.  Real pipelines swap the unigram table for
# a KenLM/transformer scorer behind the same join-then-aggregate plan.

def lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log p(tok) = ln(cnt) - ln(total).  The constant ln(total) shifts
    every per-doc mean equally, so the plan carries mean ln(cnt) and
    subtracts ln(total) at the END -- on the lang-level aggregate, via
    an unpartitioned window over the handful of lang rows (a scalar
    broadcast with no nested-loop join and no driver collect)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tokens = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    uni = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    logcnt = uni.select("tok", F.log(F.col("cnt")).alias("logcnt"))
    scored = (
        # the unigram table is vocab-sized -- it grows with the corpus
        # (heavy-tailed, but unbounded), so no hard broadcast hint; the
        # token explode and the vocab join share the tok shuffle key
        tokens.join(logcnt, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.avg("logcnt").alias("mean_logcnt"),
             F.count(F.lit(1)).alias("n_tokens"))
    )
    lang_agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("mean_logcnt").alias("avg_lc"),
        F.min("mean_logcnt").alias("min_lc"),
        F.max("mean_logcnt").alias("max_lc"),
        F.sum("n_tokens").alias("lang_tokens"),
    )
    log_total = F.log(F.sum("lang_tokens").over(
        Window.partitionBy()))  # grand total over ~5 lang rows
    return (
        lang_agg.select(
            "lang", "n_docs",
            F.round(F.col("avg_lc") - log_total, 6).alias("avg_logp"),
            F.round(F.col("min_lc") - log_total, 6).alias("worst_logp"),
            F.round(F.col("max_lc") - log_total, 6).alias("best_logp"),
        )
        .orderBy("lang")
    )


LM_UNIGRAM_SQL = """
WITH tokens AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), uni AS (
  SELECT tok, COUNT(*) AS cnt FROM tokens GROUP BY tok
), scored AS (
  SELECT t.doc_id, t.lang, AVG(ln(u.cnt)) AS mean_logcnt, COUNT(*) AS n_tokens
  FROM tokens t JOIN uni u USING (tok)
  GROUP BY t.doc_id, t.lang
), lang_agg AS (
  SELECT lang, COUNT(*) AS n_docs, AVG(mean_logcnt) AS avg_lc,
         MIN(mean_logcnt) AS min_lc, MAX(mean_logcnt) AS max_lc,
         SUM(n_tokens) AS lang_tokens
  FROM scored GROUP BY lang
)
SELECT lang, n_docs,
       ROUND(avg_lc - ln((SELECT SUM(lang_tokens) FROM lang_agg)), 6) AS avg_logp,
       ROUND(min_lc - ln((SELECT SUM(lang_tokens) FROM lang_agg)), 6) AS worst_logp,
       ROUND(max_lc - ln((SELECT SUM(lang_tokens) FROM lang_agg)), 6) AS best_logp
FROM lang_agg ORDER BY lang
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization: the storage lever for 100 TB ANN (4x
# smaller than float32).  Pure map-side expression -- no shuffle, no
# UDF; report columns are engineered to be cross-engine-exact (MAX over
# identical per-element doubles + integer code sums, never float-SUM
# folds whose accumulation order differs between engines).

def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from operating_system_map_reduce_spark.operators.quantize import (
        quantization_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return quantization_report(emb).orderBy("vec_id")


def _embedding_quantize_sql() -> str:
    from operating_system_map_reduce_spark.operators.quantize import QMAX

    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / {QMAX} AS scale,
         list_max(list_transform(v, x -> abs(x))) AS max_abs_in
  FROM base
), qd AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(greatest(-{QMAX}, least({QMAX}, round(x / scale))) AS BIGINT)) AS q
  FROM s WHERE max_abs_in > 0
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CAST(list_sum(q) AS BIGINT) AS sum_q,
       CAST(len(list_filter(q, c -> abs(c) = {QMAX})) AS BIGINT) AS n_saturated,
       ROUND(list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - q[i] * scale))), 6) AS max_abs_err
FROM qd
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Sequence packing: assign documents (in doc_id order) to fixed
# token-budget bins -- the pretraining packing shape (contiguous
# greedy: bin = floor(exclusive-cumsum(tokens) / budget)).  A naive
# cumsum is a global single-task window; this uses the same
# distributed-rank pattern as order_value_deciles: doc_id ranges form
# value-derived buckets, per-bucket token sums (collected to the
# driver: one scalar per 1024 docs) give each bucket its running
# offset, read from one map literal, and the within-bucket window
# cumsum adds it -- no SinglePartition exchange.

PACK_BUDGET = 2048
PACK_BUCKET_ROWS = 1024


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") / PACK_BUCKET_ROWS).cast("bigint").alias("bkt"),
    )
    cnts = {r["bkt"]: r["s"] for r in
            d.groupBy("bkt").agg(F.sum("n_tokens").alias("s")).collect()}
    offsets, acc = [], 0
    for b in sorted(cnts):
        offsets.append(f"{b}L, {acc}L")
        acc += cnts[b]
    tok_offset = F.element_at(
        F.expr(f"map({', '.join(offsets) or '0L, 0L'})"), F.col("bkt"))
    w = (Window.partitionBy("bkt").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + tok_offset
    return (
        d.withColumn("bin", F.floor(cum_excl / PACK_BUDGET))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin")
    )


PACK_SEQUENCES_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
  FROM d
)
SELECT CAST(cum_excl // {PACK_BUDGET} AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# doc_chunk_windows: fixed-size sliding-window chunking -- the step that
# turns documents into training sequences.  Window C=64 tokens, stride
# S=48 (16-token overlap); a doc with n <= C tokens is one chunk, else
# ceil((n-C)/S)+1 chunks, each hashed so the oracle verifies the actual
# chunk CONTENT, not just counts.  Everything is map-side expression
# work (split -> index sequence -> explode -> slice -> md5); the only
# exchange is the final presentation sort, and output rows ~ tokens/S,
# linear in corpus size.

CHUNK_C = 64
CHUNK_S = 48


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.withColumn("toks", F.split(F.col("text"), " "))
    n_last = (f"greatest(0, cast(ceil((size(toks) - {CHUNK_C}) / "
              f"cast({CHUNK_S} as double)) as int))")
    chunks = (
        d.select(
            "doc_id", "toks",
            F.explode(F.expr(f"sequence(0, {n_last})")).alias("chunk_idx"))
        .withColumn(
            "chunk",
            F.expr(f"slice(toks, chunk_idx * {CHUNK_S} + 1, {CHUNK_C})"))
    )
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size("chunk").cast("bigint").alias("n_chunk_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


DOC_CHUNK_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), idx AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(0, CAST(ceil((len(toks) - {CHUNK_C})
               / CAST({CHUNK_S} AS DOUBLE)) AS BIGINT)) + 1)) AS chunk_idx
  FROM d
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {CHUNK_S} + 1,
                           chunk_idx * {CHUNK_S} + {CHUNK_C})) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_idx * {CHUNK_S} + 1,
                                      chunk_idx * {CHUNK_S} + {CHUNK_C}), ' '))
         AS chunk_hash
FROM idx
ORDER BY doc_id, chunk_idx
"""


QUERIES = {
    "text_pii_scrub": text_pii_scrub,
    "dedup_span_exact": dedup_span_exact,
    "quality_filter_composite": quality_filter_composite,
    "domain_mix_sample": domain_mix_sample,
    "domain_temperature_weights": domain_temperature_weights,
    "lm_unigram_score": lm_unigram_score,
    "embedding_quantize": embedding_quantize,
    "pack_sequences": pack_sequences,
    "doc_chunk_windows": doc_chunk_windows,
}

ORACLES = {
    "embedding_quantize": _embedding_quantize_sql(),
    "pack_sequences": PACK_SEQUENCES_SQL,
    "text_pii_scrub": TEXT_PII_SQL,
    "dedup_span_exact": DEDUP_SPAN_SQL,
    "quality_filter_composite": QUALITY_FILTER_SQL,
    "domain_mix_sample": DOMAIN_MIX_SQL,
    "domain_temperature_weights": DOMAIN_TEMPERATURE_SQL,
    "lm_unigram_score": LM_UNIGRAM_SQL,
    "doc_chunk_windows": DOC_CHUNK_SQL,
}
