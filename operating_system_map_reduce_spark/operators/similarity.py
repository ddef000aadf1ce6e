"""Similarity search over an embedding column (array<float>).

Two paths, as a real pipeline needs both:
 - ``cosine_knn``: exact brute-force top-k.  O(n^2) candidate space --
   the *quality baseline*, fine for a broadcast-able query set, wrong
   as the primary path at 100 TB.
 - ``lsh_bucket_expr``: random-hyperplane LSH bucketing.  Hyperplane
   signs are derived deterministically from md5 (module constant), so
   the DuckDB oracle reproduces the exact buckets.  At scale: bucket is
   computed map-side, the shuffle is on bucket id, and candidate pairs
   exist only within buckets (multi-probe = register several sign
   tables).

Float discipline: all arithmetic casts float->double elementwise before
multiply, and folds run left-to-right in index order -- DuckDB's
list_sum(list_transform(...)) matches bit-for-bit (verified in tests).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

N_PLANES = 16
DIM = 64
# multi-table LSH: recall for a single b-bit table is (1-theta/pi)^b,
# which is tiny for useful thetas; T independent tables lift it to
# 1-(1-p)^T.  4 tables x 4 bits gives ~50% top-1 recall on these
# embeddings at ~1/16 of the candidate space per table.
N_TABLES = 4
TABLE_BITS = 4


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 from md5 parity -- reproducible anywhere."""
    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 1 else -1


HYPERPLANES: list[list[int]] = [
    [_plane_sign(p, i) for i in range(DIM)] for p in range(N_PLANES)
]


def dot_sql(a: str, b: str) -> str:
    """Spark-SQL double dot product, left-to-right fold.

    NB: interpreted HOF lambdas -- no codegen.  Kept for the SQL
    surface (functions/registry.py osmr_cosine) and as the oracle
    template; bulk plans use the numpy stages below, which compute the
    IDENTICAL doubles (np.cumsum is a sequential fold, so association
    order matches this aggregate and DuckDB's list_sum bit-for-bit)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


# --- numpy kernels (Arrow-batched, bit-identical to the SQL folds) --------

def _stack(series) -> np.ndarray:
    """pandas Series of float32 arrays -> (n, DIM) float64 matrix.
    float32 -> float64 is exact, matching CAST(x AS DOUBLE)."""
    if len(series) == 0:
        return np.empty((0, DIM), dtype=np.float64)
    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Dot along the last axis as a LEFT-TO-RIGHT fold: cumsum along the
    index axis is sequential ((p1+p2)+p3...), bit-identical to the SQL
    aggregate and DuckDB list_sum -- np.sum/np.dot pairwise-associate
    and may differ in ulps, so they must NOT be used here."""
    if A.shape[0] == 0:
        return np.empty(0, dtype=np.float64)
    return np.cumsum(A * B, axis=-1)[..., -1]


PLANES_MAT = np.array(HYPERPLANES, dtype=np.float64)  # (N_PLANES, DIM)


def _drop_zero_vectors(emb: DataFrame, vec_col: str) -> DataFrame:
    """Zero vectors have no cosine direction: their cosine is 0/0 = NaN,
    which SQL window-ranks FIRST (NaN > everything in DESC) while numpy
    comparisons drop it -- an engine-divergence trap.  Policy, applied
    identically in every ANN path and oracle (WHERE nrm > 0): zero-norm
    vectors are excluded from candidates.  norm == 0 iff every element
    is 0, so the check stays in codegen (no fold needed)."""
    return emb.filter(F.exists(F.col(vec_col), lambda x: x != 0.0))


def vector_norms(emb: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, vec, nrm) in one map-side Arrow pass -- norms only, for
    consumers that need no bucketing (cosine_knn).  The bucketed paths
    use lsh_members / ivf_members, which fuse their own fanout; Catalyst
    cannot prune columns out of a Python stage, so computing buckets
    here would charge every caller 16 hyperplane folds per row."""
    import pandas as pd

    src = _drop_zero_vectors(emb, vec_col).select(F.col(id_col), F.col(vec_col))
    id_field = src.schema[id_col]
    vec_field = src.schema[vec_col]

    def norm_batches(batches):
        for pdf in batches:
            E = _stack(pdf[vec_col])
            yield pd.DataFrame({
                id_col: pdf[id_col], vec_col: pdf[vec_col],
                "nrm": np.sqrt(_seq_dot(E, E)),
            })

    schema = StructType([id_field, vec_field, StructField("nrm", DoubleType())])
    return src.mapInPandas(norm_batches, schema)


def _chunked_cosines(Q: np.ndarray, E: np.ndarray, qn: np.ndarray,
                     en: np.ndarray, chunk: int = 128):
    """Yield (start, cosine block) for Q x E with peak memory bounded
    by the (chunk, m) running block -- dimension-at-a-time accumulation
    into one outer-product sum, never a (chunk, m, DIM) tensor (which
    on a skewed million-member bucket would be ~100 GB).  The
    accumulation order is dim 0 first, then += dim 1..DIM-1: the
    identical left-to-right fold as cumsum over the vector axis and the
    SQL aggregate, so every cosine stays bit-identical to the oracle."""
    for s in range(0, Q.shape[0], chunk):
        q = Q[s:s + chunk]
        dots = np.multiply.outer(q[:, 0], E[:, 0])
        for d in range(1, Q.shape[1]):
            dots += np.multiply.outer(q[:, d], E[:, d])
        yield s, dots / (qn[s:s + chunk, None] * en[None, :])


def _grouped_topk(members: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Per-group all-pairs cosine, emitting each member's top-k
    neighbors WITHIN its group as slim (qid, nid, cosine) rows.

    This is the scale-critical shape for bucketed ANN: the quadratic
    work happens inside an Arrow batch (numpy), and only k rows per
    member leave the group -- versus materializing every candidate
    pair through two vector-carrying shuffled joins + a distinct,
    which round-1 profiling showed dominates wall-clock (~1M wide
    rows for 2k vectors at sf0.1).  Global top-k over the union of
    per-group top-k is exact: any pair dropped here had >= k better
    pairs in the SAME group, which also beat it globally (tie-break
    nid-asc is preserved by sorting members and stable argsort)."""
    import pandas as pd

    def topk_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        ids = pdf["__id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"qid": ids[:0], "nid": ids[:0],
                                 "cosine": np.empty(0, dtype=np.float64)})
        E = _stack(pdf["__vec"])
        nrm = pdf["__nrm"].to_numpy()
        q_out, n_out, c_out = [], [], []
        for s, cos in _chunked_cosines(E, E, nrm, nrm):
            for local in range(cos.shape[0]):
                cos[local, s + local] = -np.inf  # exclude self
            kk = min(k, m - 1)
            idx = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
            vals = np.take_along_axis(cos, idx, axis=1)
            keep = np.isfinite(vals)
            q_out.append(np.repeat(ids[s:s + cos.shape[0]], kk)[keep.ravel()])
            n_out.append(ids[idx].ravel()[keep.ravel()])
            c_out.append(vals.ravel()[keep.ravel()])
        return pd.DataFrame({"qid": np.concatenate(q_out),
                             "nid": np.concatenate(n_out),
                             "cosine": np.concatenate(c_out)})

    id_type = members.schema["__id"].dataType
    schema = StructType([
        StructField("qid", id_type), StructField("nid", id_type),
        StructField("cosine", DoubleType()),
    ])
    return members.groupBy(*group_cols).applyInPandas(topk_fn, schema)


def lsh_members(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(tbl, bucket, __id, __vec, __nrm) in ONE map-side Arrow pass.

    Fuses norm + bucket computation + the xN_TABLES fanout into the scan stage: no
    repartition shuffle, no separate explode projection -- stage-count
    is what dominates bucketed-ANN wall clock once the folds are numpy
    (round-2 profile: each extra stage ~0.15-0.6 s at sf0.1).  At
    100 TB parquet supplies the map-side parallelism (many splits);
    the only shuffle left in the plan is the groupBy on (tbl, bucket)."""
    import pandas as pd

    src = _drop_zero_vectors(emb, vec_col).select(F.col(id_col), F.col(vec_col))
    id_field, vec_field = src.schema[id_col], src.schema[vec_col]

    def member_batches(batches):
        for pdf in batches:
            E = _stack(pdf[vec_col])
            n = E.shape[0]
            if n == 0:
                continue
            nrm = np.sqrt(_seq_dot(E, E))
            buckets = np.empty((N_TABLES, n), dtype=np.int64)
            for t in range(N_TABLES):
                b = np.zeros(n, dtype=np.int64)
                for r in range(TABLE_BITS):
                    plane = PLANES_MAT[t * TABLE_BITS + r]
                    d = _seq_dot(E, np.broadcast_to(plane, E.shape))
                    b += np.where(d >= 0, 2 ** r, 0)
                buckets[t] = b
            yield pd.DataFrame({
                "tbl": np.repeat(np.arange(N_TABLES, dtype=np.int32), n),
                "bucket": buckets.ravel(),
                "__id": np.tile(pdf[id_col].to_numpy(), N_TABLES),
                "__vec": pd.Series(list(pdf[vec_col]) * N_TABLES),
                "__nrm": np.tile(nrm, N_TABLES),
            })

    schema = StructType([
        StructField("tbl", IntegerType()), StructField("bucket", LongType()),
        StructField("__id", id_field.dataType),
        StructField("__vec", vec_field.dataType),
        StructField("__nrm", DoubleType()),
    ])
    return src.mapInPandas(member_batches, schema)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """(vec_id, rank, neighbor_id, cosine) from slim candidate rows in
    ONE shuffle on qid: dedup duplicate (qid, nid) pairs by max (the
    same neighbor reached via several tables/cells scores identical
    doubles), order by cosine desc / nid asc, emit ranks 1..k.

    Stays JVM-side: both the max-dedup aggregate and the ranking window
    are whole-stage-codegen operators over slim rows.  A pandas variant
    was measured and rejected twice at sf0.1 -- per-qid applyInPandas
    pays ~ms of pandas setup per group (6 s for 2k groups once AQE
    coalesces them into one task), and even a vectorized
    whole-partition mapInPandas loses to codegen because each python
    stage boundary costs ~0.4-0.5 s of worker dispatch regardless of
    work."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.groupBy("qid", "nid").agg(F.max("cosine").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"), F.col("rank"),
            F.col("nid").alias("neighbor_id"),
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
    )


# cosine_knn materialises an O(n^2) candidate space; above this many
# input vectors the pair count (1e5^2 = 1e10) stops being a "quality
# baseline" and becomes a cluster-killer, so the caller must opt in.
EXACT_KNN_MAX_ROWS = 100_000


class ExactKnnTooLarge(RuntimeError):
    """cosine_knn refused a large input; pass exact=True or use lsh_knn/ivf_knn."""


def cosine_knn(emb: DataFrame, k: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding", exact: bool = False,
               blocks: int = 8) -> DataFrame:
    """Exact top-k cosine neighbors for every vector.

    Plan shape (round-7 blocked all-pairs): vectors land in ``blocks``
    row-blocks by id hash; every unordered block pair (a <= b) forms one
    applyInPandas group whose members' pairwise cosines are scored
    in-numpy (chunked outer-product fold, left-to-right -- bit-identical
    to the SQL aggregate) and only per-member top-k rows leave the
    group; a (qid, nid) dedup collapses the same-block pairs that
    multiple groups re-score, and a global window finishes exact top-k.
    The baseline stays deliberately quadratic in COMPUTE, but nothing
    quadratic is ever SHUFFLED: each vector is replicated ``blocks``
    times (vs n times for the pair-join spelling, which materialized
    n^2 wide vector rows through a nested-loop join -- 18.7 s at sf0.1
    against ~1 s blocked).  Same per-pair folds, same tie-breaks, same
    output.

    To stop the footgun firing silently at scale, inputs larger than
    ``EXACT_KNN_MAX_ROWS`` raise :class:`ExactKnnTooLarge` unless the
    caller passes ``exact=True``; the scale paths are ``lsh_knn`` /
    ``ivf_knn``.  The guard costs one count() over the (pruned) id
    column -- negligible next to the n^2 compute it is guarding.
    """
    if not exact:
        n = emb.select(id_col).count()
        if n > EXACT_KNN_MAX_ROWS:
            raise ExactKnnTooLarge(
                f"cosine_knn input has {n} rows (> {EXACT_KNN_MAX_ROWS}): "
                f"the exact all-pairs baseline would score ~{n * n:.1e} "
                "pairs. Use lsh_knn/ivf_knn, or pass exact=True to force."
            )
    with_norm = vector_norms(emb, id_col, vec_col)
    base = with_norm.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(blocks)).alias("__blk"),
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"),
        F.col("nrm").alias("__nrm"),
    )
    # fan each vector to every group containing its block: group key is
    # the UNORDERED block pair, so v in block a meets block x's vectors
    # in group (min(a,x), max(a,x)) -- exactly `blocks` groups per
    # vector, one membership row each
    members = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("__other"),
        "__blk", "__id", "__vec", "__nrm",
    ).select(
        F.least("__blk", "__other").alias("ga"),
        F.greatest("__blk", "__other").alias("gb"),
        "__id", "__vec", "__nrm",
    )
    scored = _grouped_topk(members, ["ga", "gb"], k)
    # same-block pairs are scored once per group that includes their
    # block; the per-pair fold is order-independent of group
    # composition, so duplicates carry identical cosines -- _ranked_topk's
    # max() is a dedup, not a choice.  Candidate volume is n*blocks*k
    # slim rows.
    return _ranked_topk(scored, k)


def _bucket_sql_for_planes(vec_col: str, plane_idxs: list[int], duckdb: bool) -> str:
    bits = []
    for rank, p in enumerate(plane_idxs):
        plane = HYPERPLANES[p]
        if duckdb:
            arr = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + "]"
            d = (
                f"list_sum(list_transform(range(1, {DIM + 1}), i -> "
                f"CAST({vec_col}[i] AS DOUBLE) * ({arr})[i]))"
            )
        else:
            arr = "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + ")"
            d = dot_sql(vec_col, arr)
        bits.append(f"CASE WHEN {d} >= 0 THEN {2 ** rank} ELSE 0 END")
    return " + ".join(bits)


def table_bucket_sql(vec_col: str, table: int, duckdb: bool = False) -> str:
    """Bucket id for LSH table ``table`` (TABLE_BITS planes per table)."""
    idxs = list(range(table * TABLE_BITS, (table + 1) * TABLE_BITS))
    return _bucket_sql_for_planes(vec_col, idxs, duckdb)


def lsh_bucket_spark_sql(vec_col: str = "embedding") -> str:
    """Spark-SQL expression assigning the hyperplane-LSH bucket id."""
    return _bucket_sql_for_planes(vec_col, list(range(N_PLANES)), duckdb=False)


def lsh_bucket_duckdb_sql(vec_col: str = "embedding") -> str:
    """DuckDB twin: identical buckets from the same sign table."""
    return _bucket_sql_for_planes(vec_col, list(range(N_PLANES)), duckdb=True)


def cosine_near_dup(emb: DataFrame, threshold: float = 0.40,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= t).

    Same scale shape as lsh_knn: candidates come only from shared LSH
    buckets (shuffle key = (table, bucket), never a cross join), exact
    cosine re-rank on candidates, threshold filter.  Pairs above the
    threshold that share no bucket are absent by contract -- the oracle
    reproduces the identical candidate generation so the approximation
    itself is what gets verified."""
    import pandas as pd

    members = lsh_members(emb, id_col, vec_col)

    def near_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        ids = pdf["__id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0],
                                 "cosine": np.empty(0, dtype=np.float64)})
        E = _stack(pdf["__vec"])
        nrm = pdf["__nrm"].to_numpy()
        a_out, b_out, c_out = [], [], []
        for s, cos in _chunked_cosines(E, E, nrm, nrm):
            for local in range(cos.shape[0]):
                # keep only the upper triangle: id_a < id_b (ids sorted)
                cos[local, :s + local + 1] = -np.inf
            qi, ni = np.nonzero(cos >= threshold)
            a_out.append(ids[qi + s])
            b_out.append(ids[ni])
            c_out.append(cos[qi, ni])
        return pd.DataFrame({"id_a": np.concatenate(a_out),
                             "id_b": np.concatenate(b_out),
                             "cosine": np.concatenate(c_out)})

    id_type = members.schema["__id"].dataType
    schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
        StructField("cosine", DoubleType()),
    ])
    return (
        members.groupBy("tbl", "bucket").applyInPandas(near_fn, schema)
        .groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


# IVF coarse quantization: NLIST centroids, every vector assigned to its
# nearest centroid, queries probe the NPROBE nearest cells.  At scale
# the centroid table is broadcast (NLIST rows), assignment is map-side,
# and the candidate join shuffles on cell id only.  NLIST sizes the
# candidate set: cells average n/NLIST vectors, so candidates/query ~
# NPROBE * n/NLIST; production would grow NLIST ~ sqrt(n) -- 64 keeps
# the re-rank ~1.5M pairs at sf0.1 (16 made it 6M+ and 4x slower).
IVF_NLIST = 64
IVF_NPROBE = 4

# --- product quantization (the IVF-PQ compression companion) ---------------
# PQ splits the vector into PQ_M subspaces and snaps each subvector to
# its nearest codebook entry -- the memory-compression half of the
# canonical 100 TB ANN stack (IVF narrows the search, PQ shrinks the
# residency: 64 floats -> PQ_M codes).  At scale: the codebook is a
# constant broadcast, assignment is map-side Arrow, and the only shuffle
# downstream is whatever aggregate consumes the codes.
PQ_M = 8                 # subspaces
PQ_SUB = DIM // PQ_M     # dims per subspace
PQ_K = 16                # codes per subspace


def _codebook(rows: DataFrame, n: int, id_col: str, vec_col: str,
              trained: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """A codebook is an (ids, matrix) pair with one DIM-wide row per IVF
    cell or PQ code, and it comes from one of two sources.

    With ``trained`` None it is the ``n`` lowest-id ``rows`` in id order:
    no training, so a SQL oracle regenerates it exactly.  Otherwise it
    is the trained matrix labelled by row index; per-subspace PQ
    codebooks, (PQ_M, n_codes, PQ_SUB), are laid side by side into one
    row per code.  Empty ``rows`` give an empty codebook, which serves
    no cells and therefore no rows."""
    if trained is None:
        got = (rows.orderBy(F.col(id_col).asc()).limit(n)
               .select(id_col, vec_col).collect())
        return (np.array([r[0] for r in got], dtype=np.int64),
                _stack([r[1] for r in got]))
    if trained.ndim == 3:
        trained = np.hstack(trained)
    return np.arange(len(trained), dtype=np.int64), trained


def _probe(E: np.ndarray, nrm: np.ndarray, C: np.ndarray,
           nprobe: int) -> np.ndarray:
    """Row indices of each vector's ``nprobe`` most cosine-similar
    centroids, nearest first.  The sims are sequential folds, and the
    stable argsort keeps centroid row order on sim ties, matching ORDER
    BY sim DESC, cell ASC in the oracles."""
    cn = np.sqrt(_seq_dot(C, C))
    sims = np.empty((E.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[0]):
        sims[:, j] = _seq_dot(E, np.broadcast_to(C[j], E.shape)) / (nrm * cn[j])
    return np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]


def _pq_assign(E: np.ndarray, CB: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(best, d2), each (PQ_M, n): per subspace, every vector's nearest
    code row of ``CB`` and its squared L2 error.  Distances fold
    left-to-right over the subspace dims, so the doubles match the
    oracles' list_sum bit-for-bit; argmin keeps the first minimum, the
    lowest code row (ORDER BY d2, cid)."""
    best, err = [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB, (s + 1) * PQ_SUB
        diff = E[:, None, lo:hi] - CB[None, :, lo:hi]
        d2 = _seq_dot(diff, diff)
        b = np.argmin(d2, axis=1)
        best.append(b)
        err.append(d2[np.arange(len(E)), b])
    return np.stack(best), np.stack(err)


def _probe_members(rows: DataFrame, id_col: str, vec_col: str,
                   cells: tuple[np.ndarray, np.ndarray], nprobe: int,
                   indexed: bool, pq: np.ndarray | None = None) -> DataFrame:
    """(cell, indexed, __id, __vec, __nrm): one row per probed cell of
    each vector's ``nprobe`` nearest ``cells``, fused with the norm in
    one map-side Arrow pass.

    The codebook is a driver constant closed over by the stage -- the
    mapInPandas equivalent of a broadcast join -- so there is no
    repartition and no cells-to-stats join: the consumer's groupBy on
    cell is the plan's only shuffle.  With ``indexed`` the nearest
    (home) cell's row is the vector's index entry; query batches pass
    False.  With ``pq`` (a float32 PQ codebook) the row carries the PQ
    RECONSTRUCTION and its norm instead of the vector, while the cell is
    still chosen from the original vector, as an index build sees the
    real data; vectors whose reconstruction is all zero are dropped."""
    import pandas as pd

    src = rows.select(F.col(id_col), F.col(vec_col))
    cent_ids, C = cells
    # tiny tables: fewer centroids than probes -- probe what exists
    nprobe = min(nprobe, len(cent_ids))
    flags = (np.arange(nprobe) == 0) & indexed
    pq64 = None if pq is None else pq.astype(np.float64)

    def batches(bs):
        for pdf in bs:
            E = _stack(pdf[vec_col])
            if E.shape[0] == 0 or nprobe == 0:
                continue
            nrm = np.sqrt(_seq_dot(E, E))
            cell = cent_ids[_probe(E, nrm, C, nprobe)]
            ids, vecs = pdf[id_col].to_numpy(), list(pdf[vec_col])
            if pq is not None:
                best, _ = _pq_assign(E, pq64)
                R = np.hstack([pq[best[s], s * PQ_SUB:(s + 1) * PQ_SUB]
                               for s in range(PQ_M)])
                R64 = R.astype(np.float64)
                nrm = np.sqrt(_seq_dot(R64, R64))
                keep = nrm > 0
                cell, ids, nrm = cell[keep], ids[keep], nrm[keep]
                vecs = list(R[keep])
            yield pd.DataFrame({
                "cell": cell.ravel(),
                "indexed": np.tile(flags, len(ids)),
                "__id": np.repeat(ids, nprobe),
                "__vec": pd.Series([v for v in vecs for _ in range(nprobe)]),
                "__nrm": np.repeat(nrm, nprobe),
            })

    schema = StructType([
        StructField("cell", LongType()), StructField("indexed", BooleanType()),
        StructField("__id", src.schema[id_col].dataType),
        StructField("__vec", src.schema[vec_col].dataType),
        StructField("__nrm", DoubleType()),
    ])
    return src.mapInPandas(batches, schema)


def ivf_members(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding",
                nprobe: int = IVF_NPROBE) -> DataFrame:
    """(cell, indexed, __id, __vec, __nrm) over the lowest-id codebook of
    IVF_NLIST cells: each vector probes its ``nprobe`` nearest cells and
    is INDEXED in its home (nearest) one.  The only shuffle in the
    ivf_knn plan is the groupBy on cell."""
    emb = _drop_zero_vectors(emb, vec_col)
    return _probe_members(emb, id_col, vec_col,
                          _codebook(emb, IVF_NLIST, id_col, vec_col),
                          nprobe, indexed=True)


def ivf_knn(emb: DataFrame, k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k cosine via IVF: probe NPROBE cells per query,
    exact cosine over vectors indexed in those cells.

    Plan shape (3 stages): fused map-side probe assignment, one shuffle
    on cell for in-group scoring (a neighbor is indexed in exactly one
    cell, so (qid, nid) pairs are unique across groups -- no distinct
    needed, and only top-k slim rows leave each group), then the
    JVM-side dedup + ranking of _ranked_topk."""
    import pandas as pd

    members = ivf_members(emb, id_col, vec_col)

    def cell_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        idx_mask = pdf["indexed"].to_numpy()
        ids = pdf["__id"].to_numpy()
        nids = ids[idx_mask]
        if len(nids) == 0 or len(ids) == 0:
            return pd.DataFrame({"qid": ids[:0], "nid": ids[:0],
                                 "cosine": np.empty(0, dtype=np.float64)})
        E = _stack(pdf["__vec"])
        nrm = pdf["__nrm"].to_numpy()
        NE, nn = E[idx_mask], nrm[idx_mask]
        q_out, n_out, c_out = [], [], []
        for s, cos in _chunked_cosines(E, NE, nrm, nn):
            qids_blk = ids[s:s + cos.shape[0]]
            self_pos = np.searchsorted(nids, qids_blk)
            for local, qv in enumerate(qids_blk):
                p = self_pos[local]
                if p < len(nids) and nids[p] == qv:
                    cos[local, p] = -np.inf  # exclude self
            kk = min(k, len(nids))
            order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
            vals = np.take_along_axis(cos, order, axis=1)
            keep = np.isfinite(vals)
            q_out.append(np.repeat(qids_blk, kk)[keep.ravel()])
            n_out.append(nids[order].ravel()[keep.ravel()])
            c_out.append(vals.ravel()[keep.ravel()])
        return pd.DataFrame({"qid": np.concatenate(q_out),
                             "nid": np.concatenate(n_out),
                             "cosine": np.concatenate(c_out)})

    id_type = members.schema["__id"].dataType
    schema = StructType([
        StructField("qid", id_type), StructField("nid", id_type),
        StructField("cosine", DoubleType()),
    ])
    scored = members.groupBy("cell").applyInPandas(cell_fn, schema)
    return _ranked_topk(scored, k)


def semantic_dedup_manifest(emb: DataFrame, threshold: float = 0.40,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 -- public method): cluster the embedding space,
    then inside each cluster mark as a DUPLICATE every vector whose
    cosine to a LOWER-id cluster-mate reaches the threshold; the
    lowest-id member of each semantic neighborhood survives.  Returns
    the purge manifest: (vec_id, keeper_id, cosine) where keeper_id is
    the LOWEST-id in-cluster neighbor at or above the threshold (a
    deterministic survivor rule, like dedup_purge_canonical's).

    Scale shape: the cluster assignment is the IVF home-cell pass
    (map-side, centroid table broadcast into the Arrow stage), the only
    shuffle keys on cell, the quadratic scoring happens in-numpy inside
    each cell with chunked left-to-right folds (bit-identical to the
    SQL aggregate), and only manifest rows leave a cell -- the pair
    space is bounded by sum-over-cells(|cell|^2), never corpus^2,
    which is the entire point of clustering first (SemDeDup section 3).
    The oracled face uses the deterministic lowest-id codebook so DuckDB
    reproduces the identical cells; a production run swaps in
    kmeans_centroids codebooks (same serving shape, rows-only check --
    the similarity_ivfpq_trained precedent)."""
    import pandas as pd

    members = ivf_members(emb, id_col, vec_col, nprobe=1)

    def cell_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        ids = pdf["__id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"vec_id": ids[:0], "keeper_id": ids[:0],
                                 "cosine": np.empty(0, dtype=np.float64)})
        E = _stack(pdf["__vec"])
        nrm = pdf["__nrm"].to_numpy()
        d_out, k_out, c_out = [], [], []
        for s, cos in _chunked_cosines(E, E, nrm, nrm):
            for local in range(cos.shape[0]):
                g = s + local          # global row index = id rank asc
                if g == 0:
                    continue
                hits = np.nonzero(cos[local, :g] >= threshold)[0]
                if hits.size:
                    j = int(hits[0])   # lowest-id qualifying neighbor
                    d_out.append(ids[g])
                    k_out.append(ids[j])
                    c_out.append(cos[local, j])
        return pd.DataFrame({
            "vec_id": np.asarray(d_out, dtype=ids.dtype),
            "keeper_id": np.asarray(k_out, dtype=ids.dtype),
            "cosine": np.asarray(c_out, dtype=np.float64),
        })

    id_type = members.schema["__id"].dataType
    schema = StructType([
        StructField("vec_id", id_type), StructField("keeper_id", id_type),
        StructField("cosine", DoubleType()),
    ])
    return (
        members.groupBy("cell").applyInPandas(cell_fn, schema)
        .select("vec_id", "keeper_id", F.round("cosine", 6).alias("cosine"))
    )


def lsh_knn(emb: DataFrame, k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k cosine via multi-table hyperplane LSH.

    Plan: per vector compute N_TABLES bucket ids map-side; explode to
    (table, bucket, id, vec); candidates = distinct same-bucket pairs in
    ANY table (equi-join per table -- the shuffle key is (table,
    bucket), never an O(n^2) cross product); exact cosine only on
    candidates; per-qid ranked top-k.  Missing neighbors (no shared
    bucket) are genuinely absent -- that is the approximation contract.

    Plan shape: fused map-side bucketing, one shuffle on (tbl, bucket)
    for in-group scoring, then the JVM-side dedup + ranking of
    _ranked_topk."""
    # Quadratic work stays inside each (table, bucket) Arrow group; a
    # vector appears in exactly one bucket per table, so its global
    # candidate set is the union of its N_TABLES groups and the union
    # of per-group top-k contains the global top-k.  Only slim
    # (qid, nid, cosine) rows shuffle after the group stage; the same
    # neighbor found via two tables dedups by max (identical doubles).
    members = lsh_members(emb, id_col, vec_col)
    scored = _grouped_topk(members, ["tbl", "bucket"], k)
    return _ranked_topk(scored, k)


def _ivf_search_core(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str, vec_col: str,
                     cells: tuple[np.ndarray, np.ndarray],
                     pq: np.ndarray | None = None) -> DataFrame:
    """The one IVF serving plan, for any (ids, matrix) codebook: the
    CORPUS is indexed once (each vector in its home cell, as its PQ
    reconstruction when ``pq`` is given), the QUERY batch probes its
    NPROBE nearest cells, and exact cosine runs only inside probed
    cells.  Query vectors are never candidates.

    Plan shape: two fused map-side assignment passes (no shuffle), one
    shuffle on cell for in-group scoring, then _ranked_topk's JVM-side
    dedup + ranking.  At 100 TB the corpus assignment is a one-time
    index build (persisted in production); the per-batch cost is the
    small query side plus the probed cells.  Inputs must already be
    zero-vector-free."""
    import pandas as pd

    members = (
        _probe_members(corpus, id_col, vec_col, cells, 1, True, pq)
        .unionByName(_probe_members(queries, id_col, vec_col, cells,
                                    IVF_NPROBE, False))
    )

    def cell_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        idx = pdf["indexed"].to_numpy()
        ids = pdf["__id"].to_numpy()
        nids, qids = ids[idx], ids[~idx]
        if len(nids) == 0 or len(qids) == 0:
            return pd.DataFrame({"qid": qids[:0], "nid": qids[:0],
                                 "cosine": np.empty(0, dtype=np.float64)})
        E = _stack(pdf["__vec"])
        nrm = pdf["__nrm"].to_numpy()
        QE, qn = E[~idx], nrm[~idx]
        NE, nn = E[idx], nrm[idx]
        kk = min(k, len(nids))
        q_out, n_out, c_out = [], [], []
        for s, cos in _chunked_cosines(QE, NE, qn, nn):
            order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
            q_out.append(np.repeat(qids[s:s + cos.shape[0]], kk))
            n_out.append(nids[order].ravel())
            c_out.append(np.take_along_axis(cos, order, axis=1).ravel())
        return pd.DataFrame({"qid": np.concatenate(q_out),
                             "nid": np.concatenate(n_out),
                             "cosine": np.concatenate(c_out)})

    id_type = corpus.schema[id_col].dataType
    schema = StructType([
        StructField("qid", id_type), StructField("nid", id_type),
        StructField("cosine", DoubleType()),
    ])
    scored = members.groupBy("cell").applyInPandas(cell_fn, schema)
    return _ranked_topk(scored, k)


def ivf_search(corpus: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               codebook: np.ndarray | None = None) -> DataFrame:
    """Query-set vs corpus ANN -- the serving shape of IVF
    (_ivf_search_core).  The centroids are the NLIST lowest-id corpus
    vectors, codebook-free and reproducible in any engine, unless
    ``codebook`` (e.g. ``kmeans_centroids`` output) is given; its cells
    are then labelled by row index.  Zero vectors are dropped from both
    sides."""
    corpus = _drop_zero_vectors(corpus, vec_col)
    queries = _drop_zero_vectors(queries, vec_col)
    cells = _codebook(corpus, IVF_NLIST, id_col, vec_col, codebook)
    return _ivf_search_core(corpus, queries, k, id_col, vec_col, cells)


def ivfpq_search(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 codebooks: tuple[np.ndarray, np.ndarray] | None = None,
                 ) -> DataFrame:
    """IVF-PQ serving search: ivf_search's candidate generation scored
    against PQ-RECONSTRUCTED corpus vectors -- the full compressed-index
    ANN stack, where the index stores PQ_M codes per vector instead of
    DIM floats and queries rank by cosine to the reconstruction.  Both
    codebooks are lowest-id (IVF_NLIST and PQ_K rows) unless
    ``codebooks`` = (IVF centroids, PQ codebooks) from
    ``trained_codebooks`` is given.  Zero vectors are dropped from both
    sides.

    Determinism contract: cell assignment uses the ORIGINAL corpus
    vector; reconstruction snaps each subvector to the codebook entry
    chosen by pq_codes' sequential-fold argmin; the scoring norm folds
    the reconstructed 64 dims FLAT left-to-right, and the oracle
    rebuilds the same array (flatten of ordered codebook slices) so
    every double matches bit-for-bit."""
    corpus = _drop_zero_vectors(corpus, vec_col)
    queries = _drop_zero_vectors(queries, vec_col)
    C, CBS = codebooks if codebooks is not None else (None, None)
    cells = _codebook(corpus, IVF_NLIST, id_col, vec_col, C)
    _, pq = _codebook(corpus, PQ_K, id_col, vec_col, CBS)
    # PQ codebook in the STORAGE dtype (float32): reconstructions are
    # exact codebook entries, cast to double only inside folds
    return _ivf_search_core(corpus, queries, k, id_col, vec_col, cells,
                            pq.astype(np.float32))


def pq_codes(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding",
             codebook: np.ndarray | None = None) -> DataFrame:
    """(id, subspace, code, sq_err): per-subspace nearest-codebook
    assignment with its squared L2 error (_pq_assign).  The codebook is
    the PQ_K lowest-id vectors' subvectors -- the same no-training rule
    as IVF's centroid table, so a SQL oracle regenerates it exactly --
    unless ``codebook`` (``pq_codebooks_trained`` output) is given; codes
    are then its row indices 0..PQ_K-1.  Zero vectors are coded too."""
    import pandas as pd

    cb_ids, CB = _codebook(emb, PQ_K, id_col, vec_col, codebook)
    src = emb.select(F.col(id_col), F.col(vec_col))
    schema = StructType([
        StructField("vec_id", src.schema[id_col].dataType),
        StructField("subspace", IntegerType()),
        StructField("code", LongType()),
        StructField("sq_err", DoubleType()),
    ])

    def code_batches(batches):
        for pdf in batches:
            E = _stack(pdf[vec_col])
            if E.shape[0] == 0:
                continue
            best, err = _pq_assign(E, CB)
            yield pd.DataFrame({
                "vec_id": np.tile(pdf[id_col].to_numpy(), PQ_M),
                "subspace": np.repeat(np.arange(PQ_M, dtype=np.int32), len(E)),
                "code": cb_ids[best].ravel(),
                "sq_err": err.ravel(),
            })

    return src.mapInPandas(code_batches, schema)


def _lloyd(rows: DataFrame, vec_col: str, M: np.ndarray, iters: int,
           assign, finish=lambda M: M) -> np.ndarray:
    """Deterministic distributed Lloyd iterations over a (slots, width)
    codebook ``M``, with a fixed count (no data-dependent stopping) and
    no RNG.  ``assign(E, M)`` maps a batch to (slot per point, points).

    Scale shape per iteration: one map-side Arrow pass emits per-BATCH
    partial (sum, count) rows -- at most one per slot per batch -- and
    only those partials are collected, bounded by slots x input
    partitions and independent of corpus size.  The corpus is never
    collected and never reshuffled.  The update is the per-slot mean;
    empty slots keep their previous row; ``finish`` post-processes it.

    Partials accumulate in a content-sorted order, not collect (= task
    completion) order: float addition is non-associative, so an
    order-free reduce would make the codebook bits depend on task
    scheduling.  Repeated runs on the same data AND input partitioning
    are therefore bit-identical; across partitionings the partial sums
    themselves differ by ~1 ulp, never in cluster quality."""
    import pandas as pd

    src = rows.select(vec_col)
    schema = StructType([
        StructField("slot", LongType()),
        StructField("psum", ArrayType(DoubleType())),
        StructField("cnt", LongType()),
    ])
    for _ in range(iters):
        def partial_batches(bs, M=M):
            for pdf in bs:
                E = _stack(pdf[vec_col])
                if E.shape[0] == 0:
                    continue
                slot, pts = assign(E, M)
                sums = np.zeros_like(M)
                counts = np.zeros(len(M), dtype=np.int64)
                np.add.at(sums, slot, pts)
                np.add.at(counts, slot, 1)
                live = np.nonzero(counts)[0]
                yield pd.DataFrame({
                    "slot": live.astype(np.int64),
                    "psum": list(sums[live]),
                    "cnt": counts[live],
                })

        partials = src.mapInPandas(partial_batches, schema).collect()
        partials.sort(key=lambda r: (r["slot"], r["cnt"], tuple(r["psum"])))
        sums = np.zeros_like(M)
        counts = np.zeros(len(M), dtype=np.int64)
        for r in partials:
            sums[r["slot"]] += np.asarray(r["psum"], dtype=np.float64)
            counts[r["slot"]] += r["cnt"]
        live = counts > 0
        M = M.copy()
        M[live] = sums[live] / counts[live, None]
        M = finish(M)
    return M


def kmeans_centroids(corpus: DataFrame, nlist: int = IVF_NLIST,
                     iters: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> np.ndarray:
    """(nlist, DIM) IVF centroids from distributed spherical k-means
    (_lloyd) -- the quality half the lowest-id codebook trades away.

    Init: unit vectors of the ``nlist`` lowest-id rows.  Assignment
    metric is cosine (matching the serving-side probe), so training
    operates on UNIT vectors and the update is the normalized mean
    direction of each cell's members.

    Not oracle-gated on its own; quality is pinned by the
    recall-vs-brute-force test in tests/test_mining_ops.py."""
    corpus = _drop_zero_vectors(corpus, vec_col)
    C = _codebook(corpus, nlist, id_col, vec_col)[1]
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    def assign(E, C):
        U = E / np.sqrt(_seq_dot(E, E))[:, None]
        return np.argmax(U @ C.T, axis=1), U

    def unit(C):
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return C / norms

    return _lloyd(corpus, vec_col, C, iters, assign, unit)


def pq_codebooks_trained(corpus: DataFrame, iters: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> np.ndarray:
    """(PQ_M, PQ_K, PQ_SUB) per-subspace codebooks trained with L2
    Lloyd iterations (_lloyd) -- the quality half of PQ that the
    lowest-id codebook (kept for the SQL oracle) trades away.

    Init: the PQ_K lowest-id vectors' subvectors, i.e. exactly the
    untrained codebook.  One pass trains all PQ_M x PQ_K cells at once
    (slot = subspace * PQ_K + code).  Assignment is squared L2 per
    subspace in the ``-2*x.c + c.c`` form, which the trained face's
    oracle mirrors exactly.

    Not oracle-gated on its own; quality is pinned by the
    distortion-reduction test in tests/test_mining_ops.py."""
    corpus = _drop_zero_vectors(corpus, vec_col)
    flat = _codebook(corpus, PQ_K, id_col, vec_col)[1]
    n_codes = len(flat)

    def assign(E, M):
        CB = M.reshape(PQ_M, n_codes, PQ_SUB)
        slot, pts = [], []
        for s in range(PQ_M):
            sub = E[:, s * PQ_SUB:(s + 1) * PQ_SUB]
            # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; argmin only needs the
            # last two terms
            d2 = -2.0 * sub @ CB[s].T + (CB[s] * CB[s]).sum(axis=1)
            slot.append(np.argmin(d2, axis=1) + s * n_codes)
            pts.append(sub)
        return np.concatenate(slot), np.concatenate(pts)

    M = np.stack(np.hsplit(flat, PQ_M)).reshape(PQ_M * n_codes, PQ_SUB)
    return _lloyd(corpus, vec_col, M, iters, assign).reshape(
        PQ_M, n_codes, PQ_SUB)


def trained_codebooks(corpus: DataFrame, iters: int = 5,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Train both halves of the compressed index once: (IVF centroids,
    PQ codebooks), the ``codebooks`` input of ``ivfpq_search``.  A
    production job trains per corpus snapshot and persists the two
    small matrices, so training cost is paid once per corpus, not per
    search."""
    return (kmeans_centroids(corpus, iters=iters, id_col=id_col,
                             vec_col=vec_col),
            pq_codebooks_trained(corpus, iters=iters, id_col=id_col,
                                 vec_col=vec_col))
