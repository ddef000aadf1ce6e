"""Near-duplicate detection operators: exact hash, MinHash+LSH, SimHash,
n-gram Jaccard.  (Charter extension: LLM-training-data pipeline.)

Scale design (100 TB stance):
 - Everything is built from array expressions over a tokenized column --
   no explode until the *banding* step, so the per-doc work is map-side
   and only (doc_id, band_hash) pairs shuffle.
 - MinHash+LSH is the scale path: candidate pairs come from equal band
   buckets (one shuffle on band hash), never from an O(n^2) cross join;
   the exact-Jaccard verify then touches only candidates.
 - All hashing uses md5 hex strings so the DuckDB oracle computes
   byte-identical values (engine-native hashes differ across engines).

Tunables follow the standard LSH trade-off: with n_hashes = bands*rows,
the detection threshold is ~ (1/bands)^(1/rows).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

N_MINHASH = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_MINHASH / LSH_BANDS
SHINGLE_N = 3
SIMHASH_BITS = 16


def tokens_expr(text_col: str = "text") -> Column:
    """Lowercased alnum tokens; identical to the oracle's
    list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), ...)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )


def shingles_expr(toks: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles as space-joined strings (array, with dups).

    Docs shorter than n tokens yield an EMPTY array: F.sequence(1, k)
    with k < 1 produces a descending sequence and slice() then throws
    INVALID_PARAMETER_VALUE.START, so the guard is load-bearing, not
    cosmetic (matches the oracles' WHERE len(toks) >= n)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def py_shingles(toks, n: int = SHINGLE_N) -> list[str]:
    """Distinct word n-gram shingles from a token list, first-occurrence
    order -- byte-identical to
    array_distinct(shingles_expr(tokens_expr())) (space-joined slices)
    and to DuckDB's list_distinct(list_transform(...slice...)).

    Exists because the SQL form's transform(slice+concat_ws) lambdas
    are INTERPRETED and copy per element: shingling all docs of a
    one-split parquet measured 9.5 s single-core at sf0.1 (and project
    pushdown moves the expression BELOW a repartition exchange, so
    adding cores via repartition does not help the SQL form)."""
    if toks is None or len(toks) < n:
        return []
    return list(dict.fromkeys(
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
    ))


def shingle_arrays(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(id, n, shingles): the distinct shingle SET of each doc as one
    array row.  Tokenization stays in Spark SQL (engine-shared
    semantics); shingling runs in an Arrow-batched stage after a
    repartition, so the CPU-bound work spreads across cores
    (mapInPandas is a pushdown barrier, unlike a bare projection).

    The array form is the cheap common source: postings explode from it
    NARROWLY (no shuffle), and verification joins consume the arrays
    directly instead of re-grouping postings back into sets."""
    import pandas as pd

    ncores = df.sparkSession.sparkContext.defaultParallelism
    toks_df = (
        df.repartition(ncores, F.col(id_col))
        .select(F.col(id_col), tokens_expr(text_col).alias("toks"))
    )

    def array_batches(batches):
        for pdf in batches:
            ids, ns, arrs = [], [], []
            for i, toks in zip(pdf[id_col], pdf["toks"]):
                shingles = py_shingles(toks, n)
                if not shingles:
                    continue
                ids.append(i)
                ns.append(len(shingles))
                arrs.append(shingles)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                                "n": pd.Series(ns, dtype="int32"),
                                "shingles": pd.Series(arrs, dtype=object)})

    schema = StructType([
        df.schema[id_col],
        StructField("n", IntegerType()),
        StructField("shingles", ArrayType(StringType())),
    ])
    return toks_df.mapInPandas(array_batches, schema)


def shingle_postings(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """(id, n, s): one row per (doc, distinct shingle) -- the inverted
    index feed for the set-similarity join.  A narrow explode over
    shingle_arrays."""
    return shingle_arrays(df, id_col, text_col, n).select(
        F.col(id_col), F.col("n"), F.explode("shingles").alias("s")
    )


# Universal-hash MinHash family: ONE md5 per shingle -> 48-bit int ->
# N_MINHASH affine transforms (a_i*h + b_i) mod p.  16x fewer digest
# computations than hashing per-seed; the affine family is the textbook
# (a*x+b) mod p universal family.  Constants derive from md5 so the
# DuckDB oracle regenerates them identically.
MINHASH_P = 2147483647  # Mersenne prime 2^31-1; products stay < 2^62

MINHASH_A = [
    int(hashlib.md5(f"a|{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
    for i in range(N_MINHASH)
]
MINHASH_B = [
    int(hashlib.md5(f"b|{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    for i in range(N_MINHASH)
]

# hex->int on the first 12 digest chars; `substr`/`instr` spell the same
# in Spark SQL and DuckDB, so this template is engine-shared.
_HEXVAL = " + ".join(
    f"(instr('0123456789abcdef', substr({{var}}, {i}, 1)) - 1) * CAST({16 ** (12 - i)} AS BIGINT)"
    for i in range(1, 13)
)


def hexval_sql(var: str) -> str:
    return _HEXVAL.format(var=var)


def hexval_spark_sql(var: str) -> str:
    """Spark-side fast form of the same value: conv() decodes the first
    12 hex digits ~10x cheaper than the 12-term instr/substr chain
    (measured 0.03 s vs 0.29 s per use over 150k rows).  DuckDB has no
    conv(), so ORACLE SQL keeps the engine-shared template; equality of
    the two forms is pinned in tests/test_pipeline_ops.py."""
    return f"CAST(conv(substr({var}, 1, 12), 16, 10) AS BIGINT)"


def shingle_hash_vals_sql(shingles_col: str, transform_fn: str = "transform") -> str:
    """Array of per-shingle integer hashes (one md5 each).  Pass
    transform_fn='list_transform' for DuckDB."""
    md5s = f"{transform_fn}({shingles_col}, s -> md5(s))"
    return f"{transform_fn}({md5s}, h -> ({hexval_sql('h')}) % {MINHASH_P})"


def minhash_signature(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, shingles, mh_0..mh_{N-1}); docs with no shingles dropped.

    Tokenization stays in Spark SQL (cheap, engine-shared semantics);
    shingling AND hash+minimize run in one Arrow-batched pandas stage.
    The pure-SQL form -- per-element slice/concat_ws shingling, one md5
    plus a 12-term hex-decode per shingle, then 16 min-reductions, all
    interpreted HOF lambdas outside codegen -- measured 6.5 s at sf0.1
    for hashing alone, plus ~5 s single-core for shingling (project
    pushdown hoists a shingle PROJECTION below the repartition
    exchange, so only a mapInPandas barrier actually distributes it).
    Python computes IDENTICAL values (py_shingles == the SQL slices;
    md5 hex -> first 12 digits -> mod p; affine minima in int64 numpy,
    products < 2^62 so no overflow), so the DuckDB oracle still
    matches bit-for-bit."""
    import numpy as np
    import pandas as pd

    # CPU-bound stage: partition count must track cores, not input
    # bytes -- a small parquet arrives as ONE split and serializes the
    # stage.  At 100 TB input splits already provide this.
    ncores = df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.repartition(ncores, F.col(id_col))
        .select(F.col(id_col), tokens_expr(text_col).alias("toks"))
    )
    a_vec = np.array(MINHASH_A, dtype=np.int64)[:, None]
    b_vec = np.array(MINHASH_B, dtype=np.int64)[:, None]

    def sig_batches(batches):
        for pdf in batches:
            ids, all_shingles, sigs = [], [], []
            for i, toks in zip(pdf[id_col], pdf["toks"]):
                shingles = py_shingles(toks)
                if not shingles:
                    continue  # docs with no shingles dropped (as before)
                ids.append(i)
                all_shingles.append(shingles)
                hv = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:12], 16) % MINHASH_P
                     for s in shingles),
                    dtype=np.int64, count=len(shingles),
                )
                sigs.append(((a_vec * hv + b_vec) % MINHASH_P).min(axis=1))
            mat = np.stack(sigs) if sigs else np.empty((0, N_MINHASH), dtype=np.int64)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                "shingles": pd.Series(all_shingles, dtype=object),
                **{f"mh_{s}": mat[:, s] for s in range(N_MINHASH)},
            })

    id_field = out.schema[id_col]
    schema = StructType(
        [id_field, StructField("shingles", ArrayType(StringType()))]
        + [StructField(f"mh_{s}", LongType()) for s in range(N_MINHASH)]
    )
    return out.mapInPandas(sig_batches, schema)


def lsh_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode the signature into (id, band_idx, band_hash).  The only
    row-multiplying step: x LSH_BANDS."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("|", *[F.col(f"mh_{b * LSH_ROWS + r}").cast("string") for r in range(LSH_ROWS)])).alias("band_hash"),
        )
        for b in range(LSH_BANDS)
    ])
    return (
        sig.select(F.col(id_col), F.explode(bands).alias("band"))
        .select(id_col, "band.band_idx", "band.band_hash")
    )


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket -- the LSH
    candidate join (equi-join on (band_idx, band_hash), never O(n^2)).

    No SHUFFLE_HASH pin.  One once guarded a lying size estimate: both
    sides were the corpus's band postings behind the mapInPandas
    signature stage, where the planner fell back to the scan size and
    broadcast a multi-GB side.  The only registered consumer
    (dedup_minhash_lsh) now feeds this join from the at-rest bucketed
    signature TABLE, so estimates are
    real parquet statistics and the lying-estimate class cannot recur
    -- while the pin itself became the hazard: a pinned shuffled-hash
    build holds one partition of corpus-growing band postings in a
    non-spillable hash map, the exact shape that OOM'd
    dedup_containment's pinned plan at sf100 (SCALING.md).  Strategy
    choice belongs to AQE's real runtime sizes, the
    corpus_novelty_filter precedent applied to this face."""
    a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_expr(sa: Column, sb: Column) -> Column:
    """Jaccard over distinct shingle sets via intersect size only
    (|A|+|B|-|A∩B| denominator -- avoids engine union semantics)."""
    da, db = F.array_distinct(sa), F.array_distinct(sb)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    return inter / (F.size(da) + F.size(db) - inter)


def simhash_signature(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) via an Arrow-batched pandas stage.

    Same lesson as minhash_signature: the SQL form inlines the md5
    subtree into all 16 bit-sums and codegen CSE does NOT fire across
    lambda functions, so every token was hashed 16x.  Python computes
    the identical value (bit b = sign of the sum over DISTINCT tokens
    of +/-1 from the parity of md5 hex char b; order-independent), so
    the DuckDB oracle is unchanged."""
    import pandas as pd

    toks = tokens_expr(text_col)
    ncores = df.sparkSession.sparkContext.defaultParallelism
    out = df.repartition(ncores, F.col(id_col)).select(
        F.col(id_col), F.array_distinct(toks).alias("toks")
    )

    def sig_batches(batches):
        for pdf in batches:
            sigs = []
            for tokens in pdf["toks"]:
                if tokens is None:   # null text -> null simhash (SQL parity)
                    sigs.append(None)
                    continue
                if len(tokens) == 0:
                    # Defined value for empty docs: 0 on every path.
                    # (Zero-init sums would otherwise give all-bits-set
                    # here while DuckDB's list_sum over [] is NULL -> 0.)
                    sigs.append(0)
                    continue
                sums = [0] * bits
                for t in tokens:
                    h = hashlib.md5(t.encode()).hexdigest()
                    for b in range(bits):
                        sums[b] += 1 if int(h[b], 16) % 2 == 1 else -1
                sigs.append(sum(2 ** b for b in range(bits) if sums[b] >= 0))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    schema = StructType([df.schema[id_col], StructField("simhash", LongType())])
    return out.mapInPandas(sig_batches, schema)


def simhash_spark_sql(toks_sql: str, bits: int = SIMHASH_BITS) -> str:
    """Spark-SQL expression for a bitwise-majority SimHash: bit b is the
    sign of the sum over distinct tokens of +/-1 from the parity of md5
    hex char b.  NB: the md5 subtree is re-evaluated per bit-sum here
    (no CSE across lambdas) -- prefer simhash_signature for bulk work;
    this form remains for SQL-surface use and as the oracle template."""
    md5s = f"transform(array_distinct({toks_sql}), t -> md5(t))"
    parts = []
    for b in range(bits):
        s = (
            f"aggregate({md5s}, 0, (acc, h) -> acc + "
            f"CASE WHEN (instr('0123456789abcdef', substr(h, {b + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END)"
        )
        parts.append(f"CASE WHEN {s} >= 0 THEN {2 ** b} ELSE 0 END")
    # Empty token list -> 0 (matches the pandas path and DuckDB, where
    # list_sum([]) is NULL so every bit CASE falls to ELSE 0).
    return f"CASE WHEN size(array_distinct({toks_sql})) = 0 THEN 0 ELSE " + " + ".join(parts) + " END"


def simhash_duckdb_sql(toks_sql: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of simhash_spark_sql (list_sum/list_transform)."""
    md5s = f"list_transform(list_distinct({toks_sql}), t -> md5(t))"
    parts = []
    for b in range(bits):
        s = (
            f"list_sum(list_transform({md5s}, h -> "
            f"CASE WHEN (instr('0123456789abcdef', substr(h, {b + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        parts.append(f"CASE WHEN {s} >= 0 THEN {2 ** b} ELSE 0 END")
    return " + ".join(parts)
