"""Round-12 faces, REGISTERED (the two-round pattern's second half:
implemented + locally oracle-gated in round 11 as PENDING_R12_*, moved
into QUERIES/ORACLES in round 12 where the mechanical window seats
them via rule 1 as never-driver-green).

Faces:
  token_bpe_encode      -- APPLY the trained BPE tokenizer to the
                           corpus (train -> encode, the production
                           tokenization step); per-doc BPE token count
                           vs whitespace word count.
  retrieval_rrf_fusion  -- reciprocal-rank fusion of the lexical
                           (n-gram Jaccard) and semantic (embedding
                           cosine) rankers, the hybrid-search shape.
  sketch_heavy_hitters  -- Count-Min frequency sketch: true top-K
                           tokens with exact vs estimated counts and
                           the one-sided overestimate (the frequency
                           twin of the KMV cardinality sketch).

Oracle parity for all three is covered by test_oracle_parity.py like
every registered entry; this file pins their plan shapes and the
algorithmic invariants an oracle diff cannot express.
"""

from __future__ import annotations

import re

from operating_system_map_reduce_spark.plans import curation, mining, pipeline

R12_FACES = ("retrieval_rrf_fusion", "sketch_heavy_hitters",
             "token_bpe_encode")


class TestR12Registration:
    def test_registered_and_window12_seats_them(self):
        """All three are in the registry with oracles, and the computed
        window seats them first (rule 1: never driver-green)."""
        import __spark_entry__ as entrymod
        from operating_system_map_reduce_spark.plans import window as _win
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        assert len(qs) <= _win.HALVES_THRESHOLD
        assert set(oracles) == set(qs), "every query oracled"
        ledger = _win.load_ledger()
        window = _win.build_window(list(qs), ledger)
        for name in R12_FACES:
            assert name in qs and name in oracles
            if name not in ledger:      # until the r12 driver row lands
                assert name in window

    def test_registry_stays_under_the_halves_threshold(self):
        """The registry stays within the window clock's capacity (the
        2-round staleness ceiling's pigeonhole bound)."""
        import __spark_entry__ as entrymod
        from operating_system_map_reduce_spark.plans import window as _win
        assert len(entrymod.queries()) <= _win.HALVES_THRESHOLD


class TestR12PlanShapes:
    def test_bpe_encode_join_is_word_keyed_unhinted(self, spark, sf_dir):
        """The corpus pass is explode -> word-keyed equi-join -> hash
        agg; the vocab side grows with the corpus so it must carry NO
        broadcast hint (AQE may still pick broadcast at test SFs --
        the pin is on the hint, i.e. the logical plan)."""
        plan = (mining.token_bpe_encode(spark, sf_dir)
                ._jdf.queryExecution().logical().toString())
        assert "UnresolvedHint" not in plan, plan

    def test_rrf_semantic_broadcast_is_query_sized(self, spark, sf_dir):
        """Every broadcast in the fusion plan carries a |Q|-bounded
        side: the 3 query vectors (semantic) or the 3 query docs'
        postings (lexical, explicitly hinted -- left to its estimates
        the planner broadcast the CORPUS postings, the round-11
        lying-estimate class).  A Python-stage broadcast subtree
        without the query-id filter is the corpus side -- forbidden.
        Same three-pattern Python-stage check as TestAntiPatterns
        (round-11 advice: the original scan omitted
        FlatMapGroupsInPandas)."""
        from tests.test_plans import _broadcast_subtrees
        plan = (pipeline.retrieval_rrf_fusion(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for sub in _broadcast_subtrees(plan):
            if re.search(r"MapInPandas|ArrowEvalPython"
                         r"|FlatMapGroupsInPandas", sub):
                assert re.search(r"IN \(3,13,23\)", sub), \
                    f"corpus-sized broadcast side:\n{sub}"
        assert "CartesianProduct" not in plan, plan


class TestR12Semantics:
    def test_rrf_rewards_agreement(self, spark, oracle_sf_dir):
        """A doc ranked by BOTH modalities must outscore a doc holding
        the same single-ranker rank alone: score(r, r) > score(r, -)
        for every pooled rank r -- the fusion property itself."""
        rows = pipeline.retrieval_rrf_fusion(spark, oracle_sf_dir).collect()
        assert rows, "fusion returned no rows"
        for r in rows:
            assert r["in_lexical"] or r["in_semantic"]
            both = r["in_lexical"] and r["in_semantic"]
            single_max = 1.0 / (pipeline.RRF_C + 1)
            if r["rrf_score"] > single_max + 1e-9:
                assert both  # only agreement can beat the best single rank
        ranks = {}
        for r in rows:
            ranks.setdefault(r["query_id"], []).append(r["fused_rank"])
        for q, rs in ranks.items():
            assert rs == list(range(1, len(rs) + 1)), (q, rs)

    def test_cms_overestimate_is_one_sided(self, spark, oracle_sf_dir):
        """The Count-Min guarantee: est(t) >= true(t) for every probed
        token -- min over D independent overcounting rows can never
        undercount.  Also pins the report shape (exactly TOPK rows,
        descending exact counts)."""
        rows = curation.sketch_heavy_hitters(spark, oracle_sf_dir).collect()
        assert len(rows) == curation.CMS_TOPK
        counts = [r["exact_count"] for r in rows]
        assert counts == sorted(counts, reverse=True)
        for r in rows:
            assert r["est_count"] >= r["exact_count"] >= 1
            assert r["overestimate"] == r["est_count"] - r["exact_count"]

    def test_encode_counts_are_consistent(self, spark, oracle_sf_dir):
        """Per doc: 1 <= n_words and n_bpe_tokens >= n_words (a word is
        >= 1 token; merges only shrink token counts toward the word
        floor, never past it)."""
        rows = mining.token_bpe_encode(spark, oracle_sf_dir).collect()
        assert rows
        for r in rows:
            assert r["n_bpe_tokens"] >= r["n_words"] >= 1
