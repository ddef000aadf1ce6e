"""Adversarial-distribution parity for the documents/embeddings tier.

Same method as tests/test_tpch_edge_parity.py, applied to the LLM-
pipeline family -- the tier whose hazards are degenerate TEXT and
degenerate VECTORS rather than join boundaries:

- bootstrap-resampled documents (sampling rows with replacement
  manufactures exact-duplicate groups larger than the real fixture's);
- an empty document, a whitespace-only document, a single-token
  document (all below every shingle/n-gram window size);
- a doc/copy pair, a strict-containment pair, and a one-token-edit
  near-dup pair in a reserved id space;
- a pathological repetition document (one token repeated 60x);
- exact-duplicate embedding vectors, an all-zero vector (zero norm --
  the cosine NaN hazard), and a sign-flipped vector.

All 54 oracled faces that read only documents/embeddings must match
their DuckDB oracles here.  Queries with partition-count-sensitive
internals (trained k-means) keep their rows-only discipline via the
registry, so everything in the list below is hash-compared.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from oracle_utils import compare, run_oracle

SRC = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

CORPUS_QUERIES = [
    "text_bm25_topk", "shuffle_epoch_shards", "domain_temperature_weights",
    "quality_filter_composite", "dedup_span_exact", "doc_length_quantiles",
    "embedding_quantize", "lm_unigram_score", "pack_sequences",
    "token_bpe_pretokenize", "dedup_exact", "text_quality", "token_count",
    "text_lang_id", "doc_fingerprint", "text_repetition",
    "dedup_minhash_lsh", "corpus_novelty_filter", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_jaccard_ppjoin", "similarity_cosine_topk",
    "similarity_lsh_buckets", "multimodal_metadata", "similarity_lsh_knn",
    "dedup_embedding_cosine", "dedup_semantic", "fn_registry_doc_stats",
    "multimodal_frame_sample", "multimodal_resize", "multimodal_features",
    "text_tfidf_top_terms", "similarity_ivf_search", "similarity_ivf_knn",
    "pipeline_corpus_curation", "embedding_pq_codes",
    "similarity_ivfpq_search", "dedup_clusters", "dedup_purge_canonical",
    "split_assign", "contamination_check", "sample_stratified",
    "sketch_distinct_tokens", "text_pii_scrub", "domain_mix_sample",
    "doc_chunk_windows", "pagerank_neardup", "embedding_label_centroids",
    "dedup_graph_triangles", "bpe_merge_pairs", "dedup_containment",
    "tokens_pmi_bigrams", "sample_weighted",
]

N_DOCS, N_VECS = 300, 200


@pytest.fixture(scope="session")
def corpus_edge_dir(tmp_path_factory):
    rng = np.random.RandomState(int(os.environ.get("SPARK_GRAFT_EDGE_SEED", "303")))
    out = str(tmp_path_factory.mktemp("corpus_edge"))
    docs = pd.read_parquet(os.path.join(SRC, "documents.parquet"))
    vecs = pd.read_parquet(os.path.join(SRC, "embeddings.parquet"))

    # documents: row bootstrap (manufactures exact-dup groups) with
    # fresh ids, then the crafted degenerate id space
    pick = rng.randint(0, len(docs), N_DOCS)
    boot = docs.iloc[pick].reset_index(drop=True)
    base = docs["text"].iloc[0]
    crafted_texts = [
        "",                                        # empty
        "   ",                                     # whitespace-only
        "hello",                                   # single token
        " ".join(["spam"] * 60),                   # pathological repetition
        base,                                      # exact copy of a
        base,                                      #   bootstrapped doc, twice
        base + " trailing novel suffix tokens",    # strict containment
        ("edited " + base.split(" ", 1)[1]
         if " " in base else base + " x"),         # one-token edit
    ]
    crafted = pd.DataFrame({
        "doc_id": np.arange(9000, 9000 + len(crafted_texts)),
        "text": crafted_texts,
        "lang": ["en"] * len(crafted_texts),
        "source": ["src0"] * len(crafted_texts),
    })
    alldocs = pd.concat([boot, crafted], ignore_index=True)
    alldocs["doc_id"] = np.concatenate(
        [np.arange(N_DOCS), crafted["doc_id"].to_numpy()])
    alldocs["n_chars"] = alldocs["text"].str.len().astype("int64")

    dim = len(vecs["embedding"].iloc[0])
    vpick = rng.randint(0, len(vecs), N_VECS)
    vboot = vecs.iloc[vpick].reset_index(drop=True)
    v0 = np.asarray(vecs["embedding"].iloc[0], dtype=np.float32)
    crafted_vecs = pd.DataFrame({
        "vec_id": np.arange(9000, 9004),
        "embedding": [v0.tolist(), v0.tolist(),          # exact dup pair
                      np.zeros(dim, dtype=np.float32).tolist(),  # zero norm
                      (-v0).tolist()],                   # sign flip
        "label": [0, 0, 1, 2],
    })
    allvecs = pd.concat([vboot, crafted_vecs], ignore_index=True)
    allvecs["vec_id"] = np.concatenate(
        [np.arange(N_VECS), crafted_vecs["vec_id"].to_numpy()])

    for name, df in (("documents", alldocs), ("embeddings", allvecs)):
        schema = pq.read_schema(os.path.join(SRC, f"{name}.parquet"))
        pq.write_table(
            pa.Table.from_pandas(df[schema.names], schema=schema,
                                 preserve_index=False),
            os.path.join(out, f"{name}.parquet"))
    return out


_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", CORPUS_QUERIES)
def test_corpus_parity_on_adversarial_fixture(spark, corpus_edge_dir, name):
    problems = compare(_QUERIES[name](spark, corpus_edge_dir),
                       run_oracle(_ORACLES[name], corpus_edge_dir))
    assert not problems, (name, problems)


class TestCraftedCorpusSemantics:
    def test_exact_dedup_sees_manufactured_groups(self, spark,
                                                  corpus_edge_dir):
        rows = _QUERIES["dedup_exact"](spark, corpus_edge_dir).collect()
        assert rows, "bootstrap with replacement must create exact dups"

    def test_containment_pair_detected(self, spark, corpus_edge_dir):
        rows = _QUERIES["dedup_containment"](spark, corpus_edge_dir).collect()
        pairs = {(r[0], r[1]) for r in rows}
        crafted = {p for p in pairs if p[0] >= 9000 or p[1] >= 9000}
        assert crafted, "the strict-containment pair must be found"

    def test_zero_vector_does_not_poison_topk(self, spark, corpus_edge_dir):
        import math

        rows = _QUERIES["similarity_cosine_topk"](
            spark, corpus_edge_dir).collect()
        assert rows
        for r in rows:
            for v in r:
                if isinstance(v, float):
                    assert not math.isnan(v), r
