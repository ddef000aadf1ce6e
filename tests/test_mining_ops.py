"""Differential and property tests for the mining tier
(plans/mining.py, curation.sample_weighted, similarity.pq_codes).

Oracle parity pins Spark == DuckDB; these tests pin both against a
third, independently-written pure-pandas/python computation, and pin
semantic properties (weighting bias, codebook self-assignment) that a
row-hash cannot express.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.plans import mining


def _events_pdf(sf_dir: str) -> pd.DataFrame:
    pdf = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    ts = pd.to_datetime(pdf["ts"])
    # microseconds since epoch, matching tables.ts_us_expr -- unit-safe:
    # parquet generations ship datetime64[us] OR [ns], and a bare
    # astype(int64) yields the STORAGE unit, not a fixed one
    pdf["ts_us"] = (ts - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)
    return pdf


HOUR_US = 3_600_000_000


class TestGapFillDifferential:
    def test_matches_pandas_locf(self, spark, sf_dir):
        """Differential for the REGISTERED (168-hour-capped) face: the
        pandas model mirrors the retention clamp -- grid anchored at the
        last observed hour, observations older than the window dropped
        before LOCF."""
        from operating_system_map_reduce_spark.plans.mining import (
            GAP_FILL_SPAN_HOURS, events_gap_fill,
        )

        got = {r["user_id"]: r for r in
               events_gap_fill(spark, sf_dir).collect()}

        pdf = _events_pdf(sf_dir)
        pdf["h"] = pdf["ts_us"] - pdf["ts_us"] % HOUR_US
        for uid, g in pdf.groupby("user_id"):
            # last observed value per hour: (ts, event_id) order
            g = g.sort_values(["ts_us", "event_id"])
            lv = g.groupby("h")["value"].last()
            h1 = int(lv.index.max())
            h0 = max(int(lv.index.min()),
                     h1 - (GAP_FILL_SPAN_HOURS - 1) * HOUR_US)
            lv = lv[lv.index >= h0]
            grid = range(h0, h1 + 1, HOUR_US)
            filled = lv.reindex(grid).ffill()
            row = got[uid]
            assert row["n_hours"] == len(filled)
            assert row["n_observed"] == lv.size
            assert row["n_filled"] == len(filled) - lv.size
            assert row["sum_value_locf"] == pytest.approx(
                round(filled.sum(), 6), abs=2e-6)

    def test_unbounded_matches_pandas_locf(self, spark, sf_dir):
        """max_span_hours=None keeps the exact unbounded semantics."""
        from operating_system_map_reduce_spark.plans.mining import events_gap_fill

        got = {r["user_id"]: r for r in
               events_gap_fill(spark, sf_dir, max_span_hours=None).collect()}

        pdf = _events_pdf(sf_dir)
        pdf["h"] = pdf["ts_us"] - pdf["ts_us"] % HOUR_US
        for uid, g in pdf.groupby("user_id"):
            g = g.sort_values(["ts_us", "event_id"])
            lv = g.groupby("h")["value"].last()
            grid = range(int(lv.index.min()), int(lv.index.max()) + 1, HOUR_US)
            filled = lv.reindex(grid).ffill()
            row = got[uid]
            assert row["n_hours"] == len(filled)
            assert row["n_observed"] == lv.size
            assert row["n_filled"] == len(filled) - lv.size
            assert row["sum_value_locf"] == pytest.approx(
                round(filled.sum(), 6), abs=2e-6)

    def test_first_grid_hour_always_observed(self, spark, sf_dir):
        """Each user's LAST grid hour is observed by construction, so
        LOCF always produces at least one non-null value (the clamp can
        leave leading nulls, never an all-null user)."""
        from operating_system_map_reduce_spark.plans.mining import events_gap_fill

        for r in events_gap_fill(spark, sf_dir).collect():
            assert r["n_observed"] >= 1
            assert r["sum_value_locf"] is not None


class TestAnomalyMadDifferential:
    def test_matches_pandas_mad(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.mining import events_anomaly_mad

        got = {r["event_type"]: r for r in
               events_anomaly_mad(spark, sf_dir).collect()}
        pdf = _events_pdf(sf_dir)
        for et, g in pdf.groupby("event_type"):
            med = g["value"].median()
            adev = (g["value"] - med).abs()
            mad = adev.median()
            n_out = int((adev.round(6) > round(3 * mad, 6)).sum())
            row = got[et]
            assert row["n_events"] == len(g)
            assert row["med"] == pytest.approx(round(med, 6), abs=2e-6)
            assert row["mad"] == pytest.approx(round(mad, 6), abs=2e-6)
            assert row["n_outliers"] == n_out


class TestWeightedSampling:
    def test_ranks_contiguous_and_bias_toward_long_docs(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.curation import (
            SAMPLE_W_K, sample_weighted)

        rows = sample_weighted(spark, sf_dir).collect()
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        k = min(SAMPLE_W_K, len(docs))
        assert [r["smp_rank"] for r in rows] == list(range(1, k + 1))
        # Efraimidis-Spirakis with w = n_chars: inclusion probability
        # rises with length, so the sample mean length must exceed the
        # corpus mean (comfortably, given the ~10x length spread).
        if len(docs) > 2 * k:
            sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
            corpus_mean = docs["n_chars"].mean()
            assert sample_mean > corpus_mean

    def test_deterministic_across_calls(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.curation import sample_weighted

        a = [(r["smp_rank"], r["doc_id"]) for r in
             sample_weighted(spark, sf_dir).collect()]
        b = [(r["smp_rank"], r["doc_id"]) for r in
             sample_weighted(spark, sf_dir).collect()]
        assert a == b


class TestPqCodes:
    def test_codebook_vectors_self_assign_with_zero_error(self, spark, sf_dir):
        """The PQ_K lowest-id vectors ARE the codebook: each of their
        subvectors must quantize to itself with sq_err == 0."""
        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table

        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        cb_ids = [r["vec_id"] for r in
                  emb.orderBy("vec_id").limit(sim.PQ_K).collect()]
        codes = sim.pq_codes(emb).filter(F.col("vec_id").isin(cb_ids)).collect()
        for r in codes:
            assert r["sq_err"] == 0.0, r
            assert r["code"] == r["vec_id"], r

    def test_every_vector_fully_coded(self, spark, sf_dir):
        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        codes = sim.pq_codes(emb)
        assert codes.count() == n * sim.PQ_M
        per_vec = codes.groupBy("vec_id").count().collect()
        assert all(r["count"] == sim.PQ_M for r in per_vec)


class TestFuzzyBlockCensus:
    def test_matches_pandas_blocks(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.mining import fuzzy_part_match

        got = {(r["p_brand"], r["noun"]): r for r in
               fuzzy_part_match(spark, sf_dir).collect()}
        part = pd.read_parquet(os.path.join(sf_dir, "part.parquet"))
        part["noun"] = part["p_name"].str.extract(r"([a-z]+)$", expand=False)

        def lev(a: str, b: str) -> int:
            if a == b:
                return 0
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        want = {}
        for (brand, noun), g in part.groupby(["p_brand", "noun"]):
            rows = sorted(zip(g["p_partkey"], g["p_name"]))
            n_pairs = n_id = n_one = 0
            for i in range(len(rows)):
                for j in range(i + 1, len(rows)):
                    # candidates = the length band (|dlen| <= 1, the
                    # de-quadratic blocking); lossless for the
                    # d<=1 match counts
                    if abs(len(rows[i][1]) - len(rows[j][1])) > 1:
                        continue
                    d = lev(rows[i][1], rows[j][1])
                    n_pairs += 1
                    n_id += d == 0
                    n_one += d == 1
            if n_id + n_one > 0:
                want[(brand, noun)] = (n_pairs, n_id, n_one)
        assert {k: (r["n_pairs"], r["n_identical"], r["n_one_edit"])
                for k, r in got.items()} == want


class TestIvfPqQuality:
    def test_recall_vs_exact_search(self, spark, sf_dir):
        """IVF-PQ is doubly approximate (probe truncation + code
        reconstruction).  The synthetic embeddings are near-orthogonal,
        so ABSOLUTE recall is a property of the data (plain IVF gets
        0.40 top-1-in-top-5 at sf0.001); what the implementation owns
        is that PQ compression does not destroy the ranking IVF built:
        pin recall >= 60% of plain IVF's on the same probes, plus a
        basic absolute floor."""
        import numpy as np

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
        queries = emb.filter(F.col("vec_id") % 10 == 7)
        got = sim.ivfpq_search(corpus, queries, k=5).collect()
        by_q: dict[int, list[int]] = {}
        for r in got:
            by_q.setdefault(r["vec_id"], []).append(r["neighbor_id"])

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        E = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        nrm = np.sqrt((E * E).sum(axis=1))
        ok = nrm > 0
        ids, E, nrm = ids[ok], E[ok], nrm[ok]
        qmask = ids % 10 == 7
        cos = (E[qmask] @ E[~qmask].T) / np.outer(nrm[qmask], nrm[~qmask])
        exact_top1 = ids[~qmask][np.argmax(cos, axis=1)]

        hits = sum(1 for q, t1 in zip(ids[qmask], exact_top1)
                   if t1 in by_q.get(q, []))
        recall = hits / max(1, int(qmask.sum()))

        ivf_plain = sim.ivf_search(corpus, queries, k=5).collect()
        by_plain: dict[int, list[int]] = {}
        for r in ivf_plain:
            by_plain.setdefault(r["vec_id"], []).append(r["neighbor_id"])
        hits_plain = sum(1 for q, t1 in zip(ids[qmask], exact_top1)
                         if t1 in by_plain.get(q, []))
        recall_plain = hits_plain / max(1, int(qmask.sum()))

        assert recall >= 0.15, f"top-1-in-top-5 recall {recall:.2f}"
        assert recall >= 0.6 * recall_plain, (recall, recall_plain)

    def test_reconstruction_never_beats_itself(self, spark, sf_dir):
        """Sanity on the compression: a corpus vector that IS a
        codebook row reconstructs exactly, so when it is returned as a
        neighbor its cosine equals the exact cosine to the original."""
        import numpy as np

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
        queries = emb.filter(F.col("vec_id") % 10 == 7)
        cb_ids = {r["vec_id"] for r in
                  corpus.orderBy("vec_id").limit(sim.PQ_K).collect()}
        got = [r for r in sim.ivfpq_search(corpus, queries, k=5).collect()
               if r["neighbor_id"] in cb_ids]
        if not got:
            return  # no codebook row surfaced in any top-5 -- nothing to pin
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        for r in got:
            q, n = vecs[r["vec_id"]], vecs[r["neighbor_id"]]
            exact = float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n)))
            assert abs(r["cosine"] - round(exact, 6)) <= 2e-6, r


class TestBandedFuzzyBlocking:
    """Round-6 de-quadratic fix for fuzzy_part_match: the length band
    must (a) never drop a d<=1 pair, (b) emit each candidate exactly
    once, and (c) collapse a hot block's candidate count from
    block_size^2 toward sum-over-lengths(freq * neighborhood)."""

    def _hot_block(self, spark):
        # one pathological (brand, noun) block: 40 names, lengths
        # 10..29 (two names per length), all sharing brand+noun
        rows = []
        pk = 0
        for length in range(10, 30):
            for c in "xy":
                name = c * (length - 4) + " bolt"  # trailing noun 'bolt'
                rows.append((pk, name, "Brand#1"))
                pk += 1
        return spark.createDataFrame(
            rows, "p_partkey long, p_name string, p_brand string")

    def test_hot_block_candidates_exact_and_subquadratic(self, spark):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.plans.mining import (
            _banded_name_pairs,
        )

        p = self._hot_block(spark).withColumn(
            "noun", F.regexp_extract("p_name", "[a-z]+$", 0))
        pairs = _banded_name_pairs(p).collect()

        names = {r["p_partkey"]: r["p_name"] for r in p.collect()}
        brute = [(a, b) for a in names for b in names
                 if a < b and abs(len(names[a]) - len(names[b])) <= 1]
        got = sorted((r["id_a"], r["id_b"]) for r in pairs)
        # (b) exactly once per candidate, (a) == the |dlen|<=1 set
        assert got == sorted(brute)
        # (c) subquadratic: 40 names -> 780 unbanded pairs; banded must
        # stay at the length-neighborhood count (96 here)
        n_unbanded = 40 * 39 // 2
        assert len(got) == 96
        assert len(got) < 0.15 * n_unbanded

    def test_band_is_lossless_for_matches(self, spark):
        """identical/one-edit counts under the band equal the unbanded
        truth: d<=1 implies |dlen|<=1, so banding only prunes pairs
        that could never match."""
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.plans.mining import (
            _banded_name_pairs,
        )

        rows = [
            (0, "amber bolt", "B"), (1, "amber bolt", "B"),      # d=0
            (2, "ambery bolt", "B"),                             # d=1 to 0/1
            (3, "umber bolt", "B"),                              # d=1 to 0/1
            (4, "completely different bolt", "B"),
        ]
        p = spark.createDataFrame(
            rows, "p_partkey long, p_name string, p_brand string"
        ).withColumn("noun", F.regexp_extract("p_name", "[a-z]+$", 0))
        pairs = (_banded_name_pairs(p)
                 .withColumn("d", F.levenshtein("name_a", "name_b"))
                 .collect())
        ident = sum(1 for r in pairs if r["d"] == 0)
        one_edit = sum(1 for r in pairs if r["d"] == 1)
        # brute-force truth over ALL 10 pairs
        import itertools
        names = {r[0]: r[1] for r in rows}

        def lev(s, t):
            dp = list(range(len(t) + 1))
            for i, cs in enumerate(s, 1):
                prev, dp[0] = dp[0], i
                for j, ct in enumerate(t, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (cs != ct))
            return dp[-1]

        ds = [lev(names[a], names[b])
              for a, b in itertools.combinations(sorted(names), 2)]
        assert ident == sum(1 for d in ds if d == 0)
        assert one_edit == sum(1 for d in ds if d == 1)


class TestGapFillSpanBound:
    def test_max_span_hours_truncates_long_span_user(self, spark):
        """A user with a 100-hour extent under max_span_hours=10 gets a
        10-row grid anchored at the LAST observed hour (retention-window
        clamp); observations older than the window fall off the grid."""
        from operating_system_map_reduce_spark.plans.mining import (
            _GF_H, _gap_fill_census,
        )

        rows = [
            # user 1: events at hour 0 and hour 99 -- 100-hour span
            (1, 0 * _GF_H + 5, 10, 1.0),
            (1, 99 * _GF_H + 5, 11, 2.0),
            # user 2: events at hours 3, 4 -- inside any window
            (2, 3 * _GF_H, 20, 5.0),
            (2, 4 * _GF_H, 21, 7.0),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts_us long, event_id long, value double")

        unbounded = {r["user_id"]: r for r in _gap_fill_census(ev).collect()}
        assert unbounded[1]["n_hours"] == 100
        assert unbounded[1]["n_observed"] == 2

        capped = {r["user_id"]: r
                  for r in _gap_fill_census(ev, max_span_hours=10).collect()}
        assert capped[1]["n_hours"] == 10       # hours 90..99 only
        assert capped[1]["n_observed"] == 1     # the hour-0 event aged out
        assert capped[1]["sum_value_locf"] == 2.0  # no stale LOCF from h0
        # short-span users are untouched by the cap
        assert capped[2] == unbounded[2]


class TestTrainedIvf:
    """Round-6 trained-codebook ANN: distributed spherical k-means
    centroids must be deterministic and must lift recall over the
    lowest-id codebook the oracled path uses (measured 0.50-0.54 vs
    0.36-0.40 top-1-in-top-5 on the test corpora)."""

    def _split(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        return (emb, emb.filter(~(F.col("vec_id") % 10 == 7)),
                emb.filter(F.col("vec_id") % 10 == 7))

    def test_kmeans_codebook_is_deterministic(self, spark, sf_dir):
        import numpy as np

        from operating_system_map_reduce_spark.operators import similarity as sim

        _, corpus, _ = self._split(spark, sf_dir)
        c1 = sim.kmeans_centroids(corpus, iters=2)
        c2 = sim.kmeans_centroids(corpus.repartition(7), iters=2)
        assert c1.shape == c2.shape
        # bit-stable across partitionings: partials are summed on the
        # driver in cell order, so layout must not leak into the result
        assert np.allclose(c1, c2, atol=1e-12)
        # spherical: every centroid is unit-norm
        assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-9)

    def test_trained_recall_beats_lowest_id_codebook(self, spark, sf_dir):
        import numpy as np

        from operating_system_map_reduce_spark.operators import similarity as sim

        emb, corpus, queries = self._split(spark, sf_dir)
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        cids = sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
        qids = sorted(r["vec_id"] for r in queries.select("vec_id").collect())
        E = np.stack([vecs[i] for i in cids])
        Q = np.stack([vecs[i] for i in qids])
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        cos = Qn @ En.T
        exact_1 = {qids[i]: np.asarray(cids)[np.argmax(cos[i])]
                   for i in range(len(qids))}

        def top1_recall(df):
            got = {}
            for r in df.collect():
                got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
            return (sum(1 for q in qids if exact_1[q] in got.get(q, set()))
                    / len(qids))

        plain = top1_recall(sim.ivf_search(corpus, queries, k=5))
        trained = top1_recall(sim.ivf_search(
            corpus, queries, k=5, codebook=sim.kmeans_centroids(corpus)))
        assert trained >= plain, (trained, plain)
        assert trained >= 0.45, trained


class TestTrainedPq:
    """Trained per-subspace PQ codebooks must be deterministic and must
    reduce quantization distortion vs the lowest-id codebook the oracled
    pq_codes path uses -- the PQ training objective, measured directly."""

    def test_trained_codebooks_cut_distortion(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        mse_plain = (sim.pq_codes(emb)
                     .agg(F.avg("sq_err").alias("m")).collect()[0]["m"])
        mse_trained = (sim.pq_codes(emb, codebook=sim.pq_codebooks_trained(emb))
                       .agg(F.avg("sq_err").alias("m")).collect()[0]["m"])
        assert mse_trained < mse_plain, (mse_trained, mse_plain)
        # Lloyd on a 16-entry random-init codebook should cut MSE
        # substantially, not epsilon-ly
        assert mse_trained <= 0.9 * mse_plain, (mse_trained, mse_plain)

    def test_codebooks_deterministic_across_partitioning(self, spark, sf_dir):
        import numpy as np

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        c1 = sim.pq_codebooks_trained(emb, iters=2)
        c2 = sim.pq_codebooks_trained(emb.repartition(5), iters=2)
        assert c1.shape == c2.shape == (sim.PQ_M, sim.PQ_K, sim.PQ_SUB)
        assert np.allclose(c1, c2, atol=1e-12)


class TestDeletionNeighborhood:
    """SymSpell-style deletion-neighborhood candidates: the linear exact
    path for d<=1 that stays flat where even length-banded blocking
    goes quadratic (a hot SAME-LENGTH cell)."""

    def _prep(self, spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "p_partkey long, p_name string, p_brand string"
        ).withColumn("noun", F.regexp_extract("p_name", "[a-z]+$", 0))

    def test_matches_equal_banded_matches_on_real_data(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.plans.mining import (
            _banded_name_pairs, deletion_neighborhood_pairs,
        )
        from operating_system_map_reduce_spark.sources.tables import load_table

        p = (load_table(spark, sf_dir, "part")
             .select("p_partkey", "p_name", "p_brand")
             .withColumn("noun", F.regexp_extract("p_name", "[a-z]+$", 0)))

        def matches(pairs):
            return sorted(
                (r["id_a"], r["id_b"]) for r in
                pairs.withColumn("d", F.levenshtein("name_a", "name_b"))
                .filter(F.col("d") <= 1).collect())

        assert matches(deletion_neighborhood_pairs(p)) == \
            matches(_banded_name_pairs(p))

    def test_flat_on_hot_same_length_cell(self, spark):
        """40 distinct same-length names in one block: the band degrades
        to all 780 pairs; deletion neighborhoods only surface the
        actual near-matches."""
        import itertools
        import string

        from operating_system_map_reduce_spark.plans.mining import (
            _banded_name_pairs, deletion_neighborhood_pairs,
        )

        # 38 distinct, mutually-distant names, all the same length
        names = [pair[0] * 2 + pair[1] * 3 + " bolt"
                 for pair in itertools.islice(
                     itertools.combinations(string.ascii_lowercase[:20], 2), 38)]
        assert len(set(names)) == 38
        rows = [(i, n, "B") for i, n in enumerate(names)]
        rows.append((90, "abcde bolt", "B"))
        rows.append((91, "abcdf bolt", "B"))   # one substitution away
        p = self._prep(spark, rows)

        banded = _banded_name_pairs(p).count()
        neigh = deletion_neighborhood_pairs(p).count()
        n = len(rows)
        assert banded == n * (n - 1) // 2      # same length: band is blind
        assert neigh < 0.1 * banded, (neigh, banded)
        # and the true match is among the candidates
        got = {(r["id_a"], r["id_b"])
               for r in deletion_neighborhood_pairs(p).collect()}
        assert (90, 91) in got


class TestTrainedIvfPq:
    def test_trained_stack_recall_beats_untrained(self, spark, sf_dir):
        """The fully-trained compressed-index stack (k-means IVF cells +
        Lloyd PQ codebooks) must not lose to the lowest-id codebooks the
        oracled path uses (measured 0.36/0.42 vs 0.32/0.24 top-1-in-
        top-5 at sf0.001/sf0.01)."""
        import numpy as np
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(~(F.col("vec_id") % 10 == 7))
        queries = emb.filter(F.col("vec_id") % 10 == 7)
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        cids = sorted(r["vec_id"] for r in corpus.select("vec_id").collect())
        qids = sorted(r["vec_id"] for r in queries.select("vec_id").collect())
        E = np.stack([vecs[i] for i in cids])
        Q = np.stack([vecs[i] for i in qids])
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        cos = Qn @ En.T
        exact_1 = {qids[i]: np.asarray(cids)[np.argmax(cos[i])]
                   for i in range(len(qids))}

        def top1_recall(df):
            got = {}
            for r in df.collect():
                got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
            return (sum(1 for q in qids if exact_1[q] in got.get(q, set()))
                    / len(qids))

        plain = top1_recall(sim.ivfpq_search(corpus, queries, k=5))
        trained = top1_recall(sim.ivfpq_search(
            corpus, queries, k=5, codebooks=sim.trained_codebooks(corpus)))
        assert trained >= plain, (trained, plain)
        assert trained >= 0.3, trained

    def test_codebook_cache_retrains_after_source_changes(
            self, spark, sf_dir, tmp_path, monkeypatch):
        """similarity_ivfpq_trained trains once per corpus snapshot: a
        newer embeddings.parquet mtime (an in-place regeneration) must
        retrain instead of serving the old codebooks."""
        import os
        import shutil

        from operating_system_map_reduce_spark.operators import similarity as sim
        from operating_system_map_reduce_spark.plans import pipeline
        from operating_system_map_reduce_spark.sources import tables

        path = str(tmp_path / "embeddings.parquet")
        shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), path)
        calls = []
        train = sim.trained_codebooks

        def counting(*a, **k):
            calls.append(1)
            return train(*a, **k)

        monkeypatch.setattr(sim, "trained_codebooks", counting)
        monkeypatch.setattr(tables, "_DERIVED", {})
        pipeline.similarity_ivfpq_trained(spark, str(tmp_path))
        pipeline.similarity_ivfpq_trained(spark, str(tmp_path))
        assert len(calls) == 1  # same snapshot: served from the cache
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        pipeline.similarity_ivfpq_trained(spark, str(tmp_path))
        assert len(calls) == 2


class TestRound6QueryDifferentials:
    """Third-implementation checks for the BPE, order-average and chunk
    window queries: oracle parity pins Spark == DuckDB; these pin both
    against independent pure-Python computations."""

    def test_bpe_merge_pairs_matches_counter(self, spark, sf_dir):
        import re
        from collections import Counter

        from operating_system_map_reduce_spark.plans.mining import bpe_merge_pairs

        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        wc = Counter()
        for text in docs["text"]:
            for w in re.split(r"[^a-z0-9]+", text.lower()):
                if w:
                    wc[w] += 1
        pairs = Counter()
        for w, f in wc.items():
            for i in range(len(w) - 1):
                pairs[w[i:i + 2]] += f
        want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [(r["pair"], r["n_merge"]) for r in
               bpe_merge_pairs(spark, sf_dir).collect()]
        assert got == want

    def test_orders_above_avg_matches_pandas(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.analytics import (
            orders_above_customer_avg,
        )

        orders = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        cust = pd.read_parquet(os.path.join(sf_dir, "customer.parquet"))
        orders["cavg"] = orders.groupby("o_custkey")["o_totalprice"].transform("mean")
        orders["above"] = orders["o_totalprice"].round(6) > orders["cavg"].round(6)
        j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
        want = {
            seg: (len(g), int(g["above"].sum()))
            for seg, g in j.groupby("c_mktsegment")
        }
        got = {r["c_mktsegment"]: (r["n_orders"], r["n_above_avg"])
               for r in orders_above_customer_avg(spark, sf_dir).collect()}
        assert got == want

    def test_chunk_windows_match_python_slicing(self, spark, sf_dir):
        import hashlib

        from operating_system_map_reduce_spark.plans.textprep import (
            CHUNK_C, CHUNK_S, doc_chunk_windows,
        )

        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        want = []
        for _, row in docs.sort_values("doc_id").iterrows():
            toks = row["text"].split(" ")
            n = len(toks)
            n_chunks = 1 if n <= CHUNK_C else -(-(n - CHUNK_C) // CHUNK_S) + 1
            for i in range(n_chunks):
                chunk = toks[i * CHUNK_S:i * CHUNK_S + CHUNK_C]
                want.append((row["doc_id"], i, len(chunk),
                             hashlib.md5(" ".join(chunk).encode()).hexdigest()))
        got = [(r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_hash"])
               for r in doc_chunk_windows(spark, sf_dir).collect()]
        assert got == want
        # overlap invariant: consecutive chunks share C - S tokens
        assert CHUNK_C - CHUNK_S == 16


class TestRollingRevenueDifferential:
    def test_matches_pandas_windows(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.analytics import (
            nation_rolling_revenue,
        )

        li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
        sup = pd.read_parquet(os.path.join(sf_dir, "supplier.parquet"))
        nat = pd.read_parquet(os.path.join(sf_dir, "nation.parquet"))
        li["rev"] = li["l_extendedprice"] * (1 - li["l_discount"])
        li["month"] = pd.to_datetime(li["l_shipdate"]).dt.strftime("%Y-%m")
        j = (li.merge(sup, left_on="l_suppkey", right_on="s_suppkey")
             .merge(nat, left_on="s_nationkey", right_on="n_nationkey"))
        monthly = (j.groupby(["n_name", "month"])["rev"].sum()
                   .reset_index().sort_values(["n_name", "month"]))
        monthly["ma3"] = (monthly.groupby("n_name")["rev"]
                          .transform(lambda s: s.rolling(3, min_periods=1).mean()))
        monthly["cum"] = monthly.groupby("n_name")["rev"].cumsum()
        monthly["share"] = (monthly["rev"]
                            / monthly.groupby("month")["rev"].transform("sum"))
        want = {(r["n_name"], r["month"]):
                (r["rev"], r["ma3"], r["cum"], r["share"])
                for _, r in monthly.iterrows()}
        got = nation_rolling_revenue(spark, sf_dir).collect()
        assert len(got) == len(want)
        for r in got:
            w = want[(r["nation"], r["month"])]
            assert r["revenue"] == pytest.approx(w[0], rel=1e-9)
            assert r["ma3"] == pytest.approx(w[1], rel=1e-9)
            assert r["cum_revenue"] == pytest.approx(w[2], rel=1e-9)
            assert r["month_share"] == pytest.approx(w[3], rel=1e-9)


class TestBpeTrainedSemantics:
    def test_fold_is_left_to_right_non_overlapping(self, spark):
        """The aaaa/(a,a) case: exactly [aa, aa], never aaa-chaining."""
        vocab = spark.createDataFrame(
            [("aaaa", 1, "a a a a"), ("abb", 1, "a b b")], "w string, f long, s string")
        best = spark.createDataFrame([("a", "a")], "a string, b string")
        got = {r["w"]: r["s"]
               for r in mining._bpe_apply_merge(vocab, best).collect()}
        assert got == {"aaaa": "aa aa", "abb": "a b b"}
        best2 = spark.createDataFrame([("a", "b")], "a string, b string")
        got2 = {r["w"]: r["s"]
                for r in mining._bpe_apply_merge(vocab, best2).collect()}
        assert got2["abb"] == "ab b"

    def test_merges_are_distinct_and_ranked(self, spark, oracle_sf_dir):
        rows = mining.token_bpe_trained(spark, oracle_sf_dir).collect()
        assert [r["merge_rank"] for r in rows] == list(
            range(1, mining.N_BPE_MERGES + 1))
        pairs = {(r["a"], r["b"]) for r in rows}
        assert len(pairs) == mining.N_BPE_MERGES  # a pair merges once
        assert all(r["merged"] == r["a"] + r["b"] for r in rows)

    def test_encode_counts_are_consistent(self, spark, oracle_sf_dir):
        """Per doc: 1 <= n_words and n_bpe_tokens >= n_words (a word is
        >= 1 token; merges only shrink token counts toward the word
        floor, never past it)."""
        rows = mining.token_bpe_encode(spark, oracle_sf_dir).collect()
        assert rows
        for r in rows:
            assert r["n_bpe_tokens"] >= r["n_words"] >= 1


class TestBpePlans:
    def test_bpe_census_aggregates_partially_mapside(self, spark, sf_dir):
        """Pin the per-round stage (the outer trained plan only shows
        checkpointed 1-row RDDs): the word-count and pair census both
        combine map-side, and the argmax rides TakeOrderedAndProject --
        no global sort of the census ever ships."""
        vocab = mining._bpe_word_counts(spark, sf_dir).select(
            "w", "f",
            F.expr("array_join(filter(split(w, ''), c -> c <> ''), ' ')")
            .alias("s"))
        stage = (mining._bpe_pair_census(vocab)
                 .orderBy(F.desc("n_merge"), "a", "b").limit(1))
        plan = stage._jdf.queryExecution().executedPlan().toString()
        assert "partial_sum" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan

    def test_bpe_encode_join_is_word_keyed_unhinted(self, spark, sf_dir):
        """The corpus pass is explode -> word-keyed equi-join -> hash
        agg; the vocab side grows with the corpus so it must carry NO
        broadcast hint (AQE may still pick broadcast at test SFs --
        the pin is on the hint, i.e. the logical plan)."""
        plan = (mining.token_bpe_encode(spark, sf_dir)
                ._jdf.queryExecution().logical().toString())
        assert "UnresolvedHint" not in plan, plan
