"""Operator-level tests for the LLM-pipeline extensions: multimodal
decode plumbing, LSH recall vs brute force, dedup on crafted near-dups,
and the plan shapes of the faces that ride the at-rest postings and
edge tables.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from operating_system_map_reduce_spark.operators import dedup, multimodal, similarity

_QUERIES = entrymod.queries()


class TestMultimodal:
    def test_decode_stub_real_branch_rejects_junk(self):
        """fake=False resolves a REAL codec (PIL or the stdlib PNG
        codec), which must reject a non-media payload instead of
        fabricating metadata like the fake does."""
        with pytest.raises((ValueError, OSError)):
            multimodal.decode_stub(b"payload")

    def test_decode_stub_deterministic(self):
        a = multimodal.decode_stub(b"same bytes", fake=True)
        b = multimodal.decode_stub(b"same bytes", fake=True)
        assert a == b
        assert a["format"] in ("jpeg", "png", "wav", "mp4")
        assert 16 <= a["width"] < 256 and 16 <= a["height"] < 256

    def test_decode_media_plumbing(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello world"), (2, "another doc"), (3, None)],
            ["doc_id", "text"],
        )
        out = multimodal.decode_media(multimodal.attach_binary(docs), fake=True)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["n_bytes"] == len(b"hello world")
        assert rows[3]["n_bytes"] == 0  # null payload handled
        assert set(out.columns) == {"doc_id", "n_bytes", "format", "width", "height", "n_frames"}


    def test_codec_resolution_order(self):
        """explicit codec > fake double > PIL > pure-stdlib PNG codec."""
        sentinel = multimodal.FakeCodec()
        assert multimodal.resolve_codec(fake=True, codec=sentinel) is sentinel
        assert isinstance(multimodal.resolve_codec(fake=True), multimodal.FakeCodec)
        if not multimodal.pil_available():
            assert isinstance(multimodal.resolve_codec(fake=False),
                              multimodal.PngCodec)
            with pytest.raises(NotImplementedError):
                multimodal.PilCodec()

    def _real_codec(self):
        """The real (non-fake) branch: Pillow where installed, else the
        pure-stdlib PNG codec -- so this path runs in EVERY environment."""
        if multimodal.pil_available():
            return multimodal.PilCodec()
        return multimodal.PngCodec()

    def test_real_codec_decode_through_spark(self, spark):
        """The real branch decodes a genuine PNG through the same
        mapInPandas plumbing the fake path uses."""
        pixels = bytes([200, 10, 10]) * (120 * 80)
        png = multimodal.PngCodec.encode_rgb(120, 80, pixels)
        codec = self._real_codec()
        docs = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
        meta = multimodal.decode_media(docs, fake=False, codec=codec).collect()[0]
        assert (meta["format"], meta["width"], meta["height"]) == ("png", 120, 80)
        thumb = multimodal.resize_media(
            docs, target_w=64, target_h=64, fake=False, codec=codec).collect()[0]
        assert (thumb["width"], thumb["height"]) == (64, 42)
        again = multimodal.PngCodec().decode(bytes(thumb["thumb"]))
        assert again["width"] <= 64 and again["height"] <= 64

    def test_png_codec_all_filters_roundtrip(self):
        """Unfiltering parity: hand-filter scanlines with each PNG filter
        type (0-4) and check the decoder recovers the exact pixels."""
        import struct
        import zlib

        w, h = 5, 5
        stride = w * 3
        pixels = bytes((y * 40 + x * 7 + c * 3) % 256
                       for y in range(h) for x in range(w) for c in range(3))

        def filt(ftype, line, prev):
            out = bytearray([ftype])
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out.append((line[i] - pred) & 0xFF)
            return bytes(out)

        raw = b""
        prev = bytes(stride)
        for y in range(h):
            line = pixels[y * stride:(y + 1) * stride]
            raw += filt(y % 5, line, prev)
            prev = line

        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
        got_w, got_h, bpp, got = multimodal.PngCodec._pixels(png)
        assert (got_w, got_h, bpp) == (w, h, 3)
        assert bytes(got) == pixels

    def test_png_codec_rejects_non_png(self):
        with pytest.raises(ValueError):
            multimodal.PngCodec().decode(b"\xff\xd8\xff not a png")

    def test_extract_features_shape_and_range(self, spark):
        docs = spark.createDataFrame([(1, "a doc"), (2, "b doc")], ["doc_id", "text"])
        out = multimodal.extract_features(multimodal.attach_binary(docs), fake=True)
        rows = {r["doc_id"]: r["features"] for r in out.collect()}
        assert all(len(v) == multimodal.FEATURE_DIM for v in rows.values())
        assert all(0.0 <= x < 1.0 for v in rows.values() for x in v)
        assert rows[1] != rows[2]

    def test_resize_preserves_aspect_and_bounds(self, spark):
        docs = spark.createDataFrame(
            [(i, f"doc number {i}") for i in range(20)], ["doc_id", "text"])
        out = multimodal.resize_media(multimodal.attach_binary(docs),
                                      target_w=64, target_h=64, fake=True)
        src = {r["doc_id"]: r for r in multimodal.decode_media(
            multimodal.attach_binary(docs), fake=True).collect()}
        for r in out.collect():
            assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 64
            ow, oh = src[r["doc_id"]]["width"], src[r["doc_id"]]["height"]
            if ow <= 64 and oh <= 64:   # never upscale
                assert (r["width"], r["height"]) == (ow, oh)
            assert len(bytes(r["thumb"])) == 16

    def test_frame_sample_fanout_counts(self, spark):
        docs = spark.createDataFrame(
            [(i, f"video {i}") for i in range(30)], ["doc_id", "text"])
        meta = {r["doc_id"]: r["n_frames"] for r in multimodal.decode_media(
            multimodal.attach_binary(docs), fake=True).collect()}
        frames = multimodal.frame_sample(multimodal.attach_binary(docs),
                                         every_k=4, fake=True).collect()
        per_doc: dict[int, list[int]] = {}
        for r in frames:
            per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
        for doc_id, n in meta.items():
            assert sorted(per_doc[doc_id]) == list(range(0, n, 4))


class TestHexval:
    def test_spark_fast_form_equals_shared_template(self, spark):
        """hexval_spark_sql (conv-based, ~10x cheaper) must equal the
        engine-shared instr/substr template for every md5 output --
        the Spark plans use the fast form while oracles keep the
        template, so divergence here would silently break parity."""
        from pyspark.sql import functions as F

        df = spark.range(50_000).select(
            F.md5(F.col("id").cast("string")).alias("h"))
        bad = df.filter(
            F.expr(dedup.hexval_sql("h")) != F.expr(dedup.hexval_spark_sql("h"))
        ).count()
        assert bad == 0


class TestQuantize:
    def test_error_bound_and_code_range(self, spark):
        """Symmetric int8: every code in [-127, 127], at least one dim
        saturated (the max dim lands exactly on 127), and per-dim
        reconstruction error <= scale/2 (round-half guarantee)."""
        from operating_system_map_reduce_spark.operators import quantize as Q

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rep = {r["vec_id"]: r for r in Q.quantization_report(emb).collect()}
        assert rep
        for r in rep.values():
            assert r["n_saturated"] >= 1
            # 5e-7: the report rounds to 6 decimals, which can round the
            # true error (<= scale/2) up past the bound by half a quantum
            assert r["max_abs_err"] <= r["scale"] / 2 + 5e-7
        codes = Q.quantize(emb).collect()
        for row in codes[:50]:
            assert all(-127 <= c <= 127 for c in row["q"])

    def test_quantized_cosine_preserves_top1(self, spark):
        """Dequantized vectors keep exact top-1 neighbors for most
        queries -- int8 is usable as the ANN storage tier."""
        import numpy as np

        from operating_system_map_reduce_spark.operators import quantize as Q

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        deq = {r["vec_id"]: np.array(r["q"], dtype=np.float64) * r["scale"]
               for r in Q.quantize(emb).collect()}

        def top1(vecs, qid):
            qv = vecs[qid]
            best, bestcos = None, -2
            for nid, nv in vecs.items():
                if nid == qid or not nv.any():
                    continue
                c = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
                if c > bestcos:
                    best, bestcos = nid, c
            return best

        ids = [i for i in sorted(orig) if orig[i].any()][:40]
        hits = sum(1 for qid in ids if top1(orig, qid) == top1(deq, qid))
        assert hits / len(ids) > 0.8


class TestDedupOperators:
    def test_minhash_lsh_catches_planted_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("today", "tomorrow")
        far = "completely different words about spark query engines and shuffles"
        docs = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], ["doc_id", "text"]
        )
        sig = dedup.minhash_signature(docs)
        pairs = dedup.candidate_pairs(dedup.lsh_bands(sig)).collect()
        assert (1, 2) in [(r["id_a"], r["id_b"]) for r in pairs]
        assert (1, 3) not in [(r["id_a"], r["id_b"]) for r in pairs]

    def test_short_docs_yield_empty_shingles_not_crash(self, spark):
        """Docs with < SHINGLE_N tokens must produce an EMPTY shingle
        array: unguarded F.sequence(1, size-2) is descending for short
        docs and slice() then throws INVALID_PARAMETER_VALUE.START."""
        docs = spark.createDataFrame(
            [(1, "single"), (2, "two words"), (3, ""), (4, "!!! ???"),
             (5, "three tokens here exactly ok")],
            ["doc_id", "text"],
        )
        toks = dedup.tokens_expr()
        rows = {r["doc_id"]: r["sh"] for r in docs.select(
            "doc_id", dedup.shingles_expr(toks).alias("sh")).collect()}
        assert rows[1] == [] and rows[2] == [] and rows[3] == [] and rows[4] == []
        assert len(rows[5]) == 3  # 5 tokens -> 3 trigram shingles
        # and the full signature path drops them instead of dying
        sig_ids = [r["doc_id"] for r in dedup.minhash_signature(docs).collect()]
        assert sig_ids == [5]

    def test_simhash_empty_tokens_is_zero_everywhere(self, spark):
        """Empty-token docs hash to 0 on the pandas path, the Spark SQL
        template, and the DuckDB template (where list_sum([]) is NULL ->
        every bit CASE falls to ELSE 0)."""
        import duckdb

        docs = spark.createDataFrame(
            [(1, "!!! ???"), (2, ""), (3, "alpha beta gamma")], ["doc_id", "text"]
        )
        pandas_path = {r["doc_id"]: r["simhash"]
                       for r in dedup.simhash_signature(docs).collect()}
        toks = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
        sql_path = {r["doc_id"]: r["s"] for r in docs.select(
            "doc_id", F.expr(dedup.simhash_spark_sql(toks)).alias("s")).collect()}
        duck_toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id INT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)",
                        [(1, "!!! ???"), (2, ""), (3, "alpha beta gamma")])
        duck_path = dict(con.execute(
            f"SELECT doc_id, {dedup.simhash_duckdb_sql(duck_toks)} FROM docs").fetchall())
        assert pandas_path[1] == sql_path[1] == duck_path[1] == 0
        assert pandas_path[2] == sql_path[2] == duck_path[2] == 0
        assert pandas_path[3] == sql_path[3] == duck_path[3] != 0

    def test_jaccard_expr_exact(self, spark):
        df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], ["x", "y"])
        val = df.select(dedup.jaccard_expr(F.col("x"), F.col("y")).alias("j")).collect()[0]["j"]
        assert val == pytest.approx(2 / 4)

    def test_simhash_near_dup_closer_than_far(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = base + " lambda"
        far = "one two three four five six seven eight nine ten eleven twelve"
        docs = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], ["doc_id", "text"]
        )
        toks = "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
        out = {r["doc_id"]: r["s"] for r in docs.select(
            "doc_id", F.expr(dedup.simhash_spark_sql(toks)).alias("s")).collect()}

        def hamming(a, b):
            return bin(a ^ b).count("1")

        assert hamming(out[1], out[2]) < hamming(out[1], out[3])


class TestSimilarity:
    def test_multi_table_lsh_recall_on_top1(self, spark):
        """Multi-table LSH recall: the exact top-1 neighbor appears in
        the approximate result for a solid share of queries (single
        4-bit table keeps ~(1-theta/pi)^4; 4 tables lift to 1-(1-p)^4 --
        ~50% at these embeddings' neighbor distances)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact_top1 = {
            r["vec_id"]: r["neighbor_id"]
            for r in similarity.cosine_knn(emb, k=1).collect()
        }
        approx = similarity.lsh_knn(emb, k=5).collect()
        found: dict[int, set[int]] = {}
        for r in approx:
            found.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hits = sum(1 for q, n in exact_top1.items() if n in found.get(q, set()))
        assert hits / len(exact_top1) > 0.25

    def test_lsh_knn_scores_match_exact_for_shared_pairs(self, spark):
        """Where LSH surfaces a pair, its cosine equals the exact one."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {(r["vec_id"], r["neighbor_id"]): r["cosine"]
                 for r in similarity.cosine_knn(emb, k=5).collect()}
        approx = similarity.lsh_knn(emb, k=5).collect()
        shared = [(r["vec_id"], r["neighbor_id"], r["cosine"]) for r in approx
                  if (r["vec_id"], r["neighbor_id"]) in exact]
        assert shared, "no overlap between exact and approximate knn"
        for q, n, c in shared:
            assert c == exact[(q, n)]

    def test_ivf_recall_on_top1(self, spark):
        """IVF with 4-of-16 probed cells finds the exact top-1 for a
        solid share of queries."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact_top1 = {
            r["vec_id"]: r["neighbor_id"]
            for r in similarity.cosine_knn(emb, k=1).collect()
        }
        approx = similarity.ivf_knn(emb, k=5).collect()
        found: dict[int, set[int]] = {}
        for r in approx:
            found.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hits = sum(1 for q, n in exact_top1.items() if n in found.get(q, set()))
        assert hits / len(exact_top1) > 0.25

    def test_near_dup_pairs_subset_of_bruteforce(self, spark):
        """Every LSH near-dup pair is a true >=threshold pair (no false
        positives -- exact re-rank guarantees it), ordered id_a < id_b."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        thresh = 0.35
        pairs = similarity.cosine_near_dup(emb, threshold=thresh).collect()
        assert pairs, "expected at least one near-dup pair at this threshold"
        exact = {(r["vec_id"], r["neighbor_id"]): r["cosine"]
                 for r in similarity.cosine_knn(emb, k=50).collect()}
        for r in pairs:
            assert r["id_a"] < r["id_b"]
            assert r["cosine"] >= thresh
            key = (r["id_a"], r["id_b"])
            assert key in exact and exact[key] == r["cosine"]

    def test_exact_knn_guard_trips_above_threshold(self, spark, monkeypatch):
        """The O(n^2) baseline refuses large inputs unless exact=True --
        the scale footgun cannot fire silently (VERDICT r03 item 3)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        monkeypatch.setattr(similarity, "EXACT_KNN_MAX_ROWS", 10)
        import pytest as _pytest
        with _pytest.raises(similarity.ExactKnnTooLarge, match="lsh_knn"):
            similarity.cosine_knn(emb, k=5)
        # explicit opt-in still works on the same oversized input
        assert similarity.cosine_knn(emb.limit(20), k=1, exact=True).count() > 0

    def test_zero_vectors_excluded_everywhere(self, spark):
        """A zero vector has no cosine direction (0/0 = NaN): every ANN
        path excludes it from queries AND neighbors instead of leaking
        NaN ranks (SQL would rank NaN first, numpy drops it -- the
        policy keeps both engines identical)."""
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)

        dim = similarity.DIM
        rows = [(1, [1.0] * dim), (2, [0.0] * dim), (3, [1.0] * dim),
                (4, [0.5] * dim + []), (5, [0.0] * dim)]
        schema = StructType([StructField("vec_id", LongType()),
                             StructField("embedding", ArrayType(FloatType()))])
        emb = spark.createDataFrame(rows, schema)
        for fn in (similarity.cosine_knn, similarity.lsh_knn, similarity.ivf_knn):
            got = fn(emb, k=5).collect()
            ids = {r["vec_id"] for r in got} | {r["neighbor_id"] for r in got}
            assert ids and 2 not in ids and 5 not in ids, (fn.__name__, got)
            assert all(r["cosine"] == r["cosine"] for r in got), "NaN leaked"
        pairs = similarity.cosine_near_dup(emb, threshold=0.4).collect()
        pids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        assert pids == {1, 3, 4}

    def test_ivf_handles_fewer_vectors_than_nprobe(self, spark):
        """Tiny tables: fewer centroids than IVF_NPROBE must probe what
        exists, not crash on mismatched array lengths."""
        from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                       StructField, StructType)

        dim = similarity.DIM
        schema = StructType([StructField("vec_id", LongType()),
                             StructField("embedding", ArrayType(FloatType()))])
        emb = spark.createDataFrame(
            [(1, [1.0] * dim), (2, [0.9] * dim)], schema)
        got = similarity.ivf_knn(emb, k=5).collect()
        assert {(r["vec_id"], r["neighbor_id"]) for r in got} == {(1, 2), (2, 1)}
        empty = spark.createDataFrame([], schema)
        assert similarity.ivf_knn(empty, k=5).collect() == []

    def test_hyperplanes_deterministic(self):
        assert similarity.HYPERPLANES == [
            [similarity._plane_sign(p, i) for i in range(similarity.DIM)]
            for p in range(similarity.N_PLANES)
        ]
        assert all(v in (-1, 1) for row in similarity.HYPERPLANES for v in row)


class TestSemanticDedup:
    """SemDeDup cluster-then-purge manifest: survivor rule and
    threshold behavior on a constructed corpus where home cells and
    cosines are known exactly."""

    def _fixture(self, spark):
        """64 one-hot basis vectors (ids 0-63 become the lowest-id
        centroids, each its own home cell) plus four probes:
          64: 2*e0            -> cell 0, cos(.,id0)=1.0   -> keeper 0
          65: e0 + 0.1*e1     -> cell 0, cos(.,id0)~0.995 -> keeper 0
              (64 also qualifies, but 0 is the LOWEST qualifying id)
          66: 3*e1            -> cell 1, cos(.,id1)=1.0   -> keeper 1
          67: e2+...+e8 (7 dims) -> cell 2 by the asc tie-break; cosine
              to its only lower cluster-mate (id 2) = 1/sqrt(7) ~ 0.378
              < 0.40 -> NOT a duplicate
        """
        import numpy as np

        rows = []
        for i in range(64):
            v = np.zeros(64, dtype=np.float32)
            v[i] = 1.0
            rows.append((i, v.tolist()))
        probes = {
            64: {0: 2.0},
            65: {0: 1.0, 1: 0.1},
            66: {1: 3.0},
            67: {d: 1.0 for d in range(2, 9)},
        }
        for i, comps in probes.items():
            v = np.zeros(64, dtype=np.float32)
            for d, x in comps.items():
                v[d] = x
            rows.append((i, v.tolist()))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    def test_manifest_survivor_rule(self, spark):
        emb = self._fixture(spark)
        got = {r["vec_id"]: (r["keeper_id"], r["cosine"]) for r in
               similarity.semantic_dedup_manifest(emb, threshold=0.40).collect()}
        # exactly the three near-duplicates, each kept by the LOWEST
        # qualifying cluster-mate; centroid survivors never appear
        assert set(got) == {64, 65, 66}
        assert got[64] == (0, 1.0)
        assert got[65][0] == 0 and got[65][1] == pytest.approx(
            1 / (1.01) ** 0.5, abs=1e-6)
        assert got[66] == (1, 1.0)

    def test_threshold_tightening_shrinks_manifest(self, spark):
        emb = self._fixture(spark)
        loose = similarity.semantic_dedup_manifest(emb, threshold=0.37).count()
        tight = similarity.semantic_dedup_manifest(emb, threshold=0.999).count()
        # 0.37 admits probe 67 (cos 0.378 to its centroid); 0.999 keeps
        # only the exact-direction duplicates 64 and 66
        assert loose == 4
        assert tight == 2


class TestPPJoinPrefixFilter:
    """The registered count-join faces against the unfiltered
    full-index count join: the length filters in their join
    conditions must lose no qualifying pair."""

    def _full_index_pairs(self, spark, sf_dir, t):
        """{(id_a, id_b): rounded Jaccard} over the unfiltered
        full-index count join, Jaccard >= t."""
        from operating_system_map_reduce_spark.sources.tables import load_table
        ex = dedup.shingle_postings(load_table(spark, sf_dir, "documents"))
        a = ex.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), "s")
        b = ex.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"),
                      F.col("s").alias("s_b"))
        full = (a.join(b, (F.col("s") == F.col("s_b"))
                       & (F.col("id_a") < F.col("id_b")))
                .groupBy("id_a", "id_b", "n_a", "n_b")
                .agg(F.count(F.lit(1)).cast("double").alias("i")))
        jac = F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i"))
        return {(r["id_a"], r["id_b"]): r["j"] for r in
                full.withColumn("j", F.round(jac, 6))
                .filter(F.col("j") >= t).collect()}

    def test_prefix_join_loses_no_qualifying_pair(self, spark, sf_dir):
        """Differential: dedup_ngram_jaccard (length-filtered count
        join) == the full-index count join."""
        from operating_system_map_reduce_spark.plans.pipeline import (
            dedup_ngram_jaccard)

        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
        assert got == self._full_index_pairs(spark, sf_dir, 0.2)

    def test_positional_filter_loses_no_qualifying_pair(self, spark, sf_dir):
        """Differential: dedup_jaccard_ppjoin (count-join with the
        t = 0.7 length filters) must emit exactly the pairs the
        full-index count join finds at Jaccard >= 0.7."""
        from operating_system_map_reduce_spark.plans.pipeline import (
            dedup_jaccard_ppjoin)

        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup_jaccard_ppjoin(spark, sf_dir).collect()}
        assert got == self._full_index_pairs(spark, sf_dir, 0.7)


class TestCanonicalPurge:
    def test_purge_consistent_with_clusters(self, spark, oracle_sf_dir):
        """Purge manifest rows line up 1:1 with dedup_clusters: same
        cluster ids, n_purged = n_members - 1, keeper is a member."""
        from operating_system_map_reduce_spark.plans.curation import (
            dedup_clusters, dedup_purge_canonical)

        clusters = {r["cluster_id"]: r for r in
                    dedup_clusters(spark, oracle_sf_dir).collect()}
        purge = {r["cluster_id"]: r for r in
                 dedup_purge_canonical(spark, oracle_sf_dir).collect()}
        assert clusters.keys() == purge.keys()
        for cid, p in purge.items():
            assert p["n_purged"] == clusters[cid]["n_members"] - 1
            assert p["keep_doc"] is not None

    def test_keeper_is_longest_member(self, spark, oracle_sf_dir):
        from operating_system_map_reduce_spark.plans.curation import (
            _cluster_labels, dedup_purge_canonical)
        from operating_system_map_reduce_spark.sources.tables import load_table

        docs = {r["doc_id"]: r["n_chars"] for r in
                load_table(spark, oracle_sf_dir, "documents")
                .select("doc_id", "n_chars").collect()}
        members: dict = {}
        for r in _cluster_labels(spark, oracle_sf_dir).collect():
            members.setdefault(r["comp"], []).append(r["id"])
        for r in dedup_purge_canonical(spark, oracle_sf_dir).collect():
            best = sorted(members[r["cluster_id"]],
                          key=lambda i: (-docs[i], i))[0]
            assert r["keep_doc"] == best


class TestNoveltyFilter:
    def _run(self, spark, rows):
        """Drive the novelty shape on a crafted corpus: batch ids are
        % 10 == 7, same split rule as the query."""
        from operating_system_map_reduce_spark.operators.dedup import (
            lsh_bands, minhash_signature)

        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        bands = lsh_bands(minhash_signature(docs))
        corpus_index = (bands.filter(~(F.col("doc_id") % 10 == 7))
                        .select("band_idx", "band_hash").distinct())
        return {r["doc_id"]: r["n"] for r in
                bands.filter(F.col("doc_id") % 10 == 7)
                .join(corpus_index, ["band_idx", "band_hash"])
                .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
                .collect()}

    def test_duplicate_batch_doc_hits_unique_does_not(self, spark):
        base = ("the quick brown fox jumps over the lazy dog and then "
                "runs far away into the deep dark forest tonight")
        rows = [(1, base), (2, "completely different corpus text about "
                               "databases and distributed systems design"),
                (7, base),  # batch dup of corpus doc 1
                (17, "unrelated novel content regarding oceanic plankton "
                     "bloom cycles and satellite imagery analysis")]
        hits = self._run(spark, rows)
        assert hits.get(7, 0) >= 1      # identical text -> all bands hit
        assert 17 not in hits           # novel doc -> no band hit

    def test_incremental_index_append(self, spark):
        """The maintenance half: once a surviving batch doc's bands are
        APPENDED to the index, a later identical arrival is caught."""
        from operating_system_map_reduce_spark.operators.dedup import (
            lsh_bands, minhash_signature)

        novel = ("unique fresh wording that matches nothing else in the "
                 "standing corpus of indexed documents at all today")
        corpus = [(1, "some standing corpus document text with plenty of "
                      "tokens to shingle and hash for the band index")]
        batch1 = [(7, novel)]
        idx0 = (lsh_bands(minhash_signature(
                    spark.createDataFrame(corpus, ["doc_id", "text"])))
                .select("band_idx", "band_hash").distinct())
        b1 = lsh_bands(minhash_signature(
            spark.createDataFrame(batch1, ["doc_id", "text"])))
        assert b1.join(idx0, ["band_idx", "band_hash"]).count() == 0
        # append survivor's bands, then replay an identical doc
        idx1 = idx0.union(b1.select("band_idx", "band_hash")).distinct()
        b2 = lsh_bands(minhash_signature(
            spark.createDataFrame([(27, novel)], ["doc_id", "text"])))
        assert b2.join(idx1, ["band_idx", "band_hash"]).count() >= 1


class TestIvfSearch:
    def test_neighbors_only_from_corpus(self, spark, oracle_sf_dir):
        from operating_system_map_reduce_spark.plans.pipeline import (
            similarity_ivf_search)

        rows = similarity_ivf_search(spark, oracle_sf_dir).collect()
        assert rows, "query batch must find neighbors"
        for r in rows:
            assert r["vec_id"] % 10 == 7          # queries are the batch
            assert r["neighbor_id"] % 10 != 7     # neighbors never queries

    def test_identical_vector_is_top1(self, spark):
        """A query vector equal to a corpus vector must rank it first
        with cosine ~ 1."""
        import random

        from operating_system_map_reduce_spark.operators.similarity import (
            DIM, ivf_search)

        rng = random.Random(11)
        corp = [(i, [rng.uniform(-1, 1) for _ in range(DIM)])
                for i in range(40)]
        queries = [(1007, list(corp[3][1])),                       # clone of id 3
                   (1017, [rng.uniform(-1, 1) for _ in range(DIM)])]
        schema = "vec_id long, embedding array<float>"
        out = ivf_search(spark.createDataFrame(corp, schema),
                         spark.createDataFrame(queries, schema), k=3)
        top = {r["vec_id"]: r for r in out.collect() if r["rank"] == 1}
        assert top[1007]["neighbor_id"] == 3
        assert top[1007]["cosine"] > 0.999


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_python_stage(plan: str) -> None:
    for node in ("MapInPandas", "ArrowEvalPython",
                 "FlatMapGroupsInPandas", "BatchEvalPython"):
        assert node not in plan, f"{node} in the at-rest plan:\n{plan}"


def _assert_pair_keyed_exchanges(plan: str) -> None:
    """Every hash exchange must key on pair columns (id_a/id_b -- the
    candidate aggregate), never on the shingle join key: the
    corpus-sized postings rows never move."""
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan):
        keys = m.group(1)
        assert "id_a" in keys or "id_b" in keys, \
            f"corpus-keyed exchange survived: {keys}\n{plan}"


def _plan_with_conf(spark, key: str, value: str, df_fn) -> str:
    spark.conf.set(key, value)
    try:
        return _plan(df_fn())
    finally:
        spark.conf.unset(key)


_NO_BROADCAST = ("spark.sql.autoBroadcastJoinThreshold", "-1")


class TestAtRestPostings:
    """The postings consumers ride the shingle-bucketed b_post table:
    no Python stage in the query plan, the scan is the bucketed table,
    and the self-join adds no corpus-keyed exchange.  Row exactness is
    the DuckDB oracle's job (test_oracle_parity.py and
    test_corpus_edge_parity.py)."""

    def test_ngram_plan_has_no_python_stage(self, spark, sf_dir):
        df = _QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
        assert len(df.collect()) > 0, "fixture must produce near-dup pairs"
        plan = _plan(df)
        _assert_no_python_stage(plan)
        assert "b_post_" in plan.lower()

    def test_ngram_pin_is_gone(self, spark, sf_dir):
        """No join hint: at rest the planner sees real parquet
        statistics, so strategy choice is AQE's."""
        logical = (_QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
                   ._jdf.queryExecution().logical().toString())
        assert "UnresolvedHint" not in logical, logical

    def test_postings_self_join_is_exchange_free(self, spark, sf_dir):
        """With broadcast disabled the join must be a zero-exchange
        sort-merge (or hash) join of two bucketed scans."""
        plan = _plan_with_conf(
            spark, *_NO_BROADCAST,
            lambda: _QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
        _assert_pair_keyed_exchanges(plan)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan

    def test_ppjoin_plan_shape(self, spark, sf_dir):
        """No Python stage, no array payload anywhere (the count form
        ships only narrow grouped rows), the b_post scan feeding an
        exchange-free self-join."""
        face = _QUERIES["dedup_jaccard_ppjoin"]
        df = face(spark, sf_dir)
        assert len(df.collect()) > 0, "fixture must produce high-threshold pairs"
        plan = _plan(df)
        _assert_no_python_stage(plan)
        assert "b_post_" in plan.lower()
        assert "array_intersect" not in plan, \
            "the count form must not ship array payloads"
        _assert_pair_keyed_exchanges(_plan_with_conf(
            spark, *_NO_BROADCAST, lambda: face(spark, sf_dir)))

    def test_containment_plan_shape(self, spark, sf_dir):
        """No Python stage, no join hint (a SHUFFLE_HASH build cannot
        spill and OOMs at sf100), no array verify; past any broadcast
        threshold the plan is the exchange-free SortMergeJoin of two
        bucketed scans."""
        face = _QUERIES["dedup_containment"]
        df = face(spark, sf_dir)
        assert len(df.collect()) > 0
        plan = _plan(df)
        _assert_no_python_stage(plan)
        assert "b_post_" in plan.lower()
        assert "array_intersect" not in plan, \
            "registered containment must stay the count-join"
        logical = df._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint" not in logical, logical
        nobc = _plan_with_conf(spark, *_NO_BROADCAST,
                               lambda: face(spark, sf_dir))
        assert "SortMergeJoin" in nobc, nobc
        _assert_pair_keyed_exchanges(nobc)

    def test_bucketed_postings_schema_and_point_prune(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_postings)
        post = bucketed_postings(spark, sf_dir)
        assert set(post.columns) == {"doc_id", "n", "s"}
        # bucket pruning on the shingle key: the at-rest index also
        # serves point probes (which docs contain shingle X?) reading
        # 1/32 of the files -- the inverted-index lookup story
        probe = post.select("s").first()[0]
        plan = _plan_with_conf(
            spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "false", lambda: post.filter(F.col("s") == probe))
        assert "SelectedBucketsCount: 1 out of 32" in plan, plan


class TestAtRestEdges:
    def test_edges_match_registered_pairs(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_edges)
        got = sorted(map(tuple, bucketed_edges(spark, sf_dir).collect()))
        want = sorted(map(tuple, _QUERIES["dedup_ngram_jaccard"](
            spark, sf_dir).select("id_a", "id_b").collect()))
        assert got == want
        assert len(got) > 0

    @pytest.mark.parametrize("face", ["pagerank_neardup",
                                      "dedup_graph_triangles"])
    def test_graph_faces_ride_the_edge_table(self, spark, sf_dir, face):
        """Edge references are bucketed table scans: no Python stage,
        no checkpoint scan (Scan ExistingRDD), no persisted block
        (InMemoryTableScan) -- nothing held in executor memory for the
        ContextCleaner to churn."""
        plan = _plan(_QUERIES[face](spark, sf_dir))
        _assert_no_python_stage(plan)
        assert "b_edge_" in plan.lower(), plan
        assert "Scan ExistingRDD" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan
