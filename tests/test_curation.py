"""Corpus-curation tier: connected components, splits, contamination,
stratified sampling.  Oracle parity is covered by test_oracle_parity's
parameterization; these tests pin operator semantics and plan shape."""

from __future__ import annotations

import pytest

from operating_system_map_reduce_spark.operators.graph import (
    ConvergenceError, connected_components,
)
from operating_system_map_reduce_spark.plans import curation


def _components(spark, edges, cap=None):
    """cap=0 forces the distributed star-contraction path; cap=None uses
    the default adaptive choice (driver union-find under the edge cap)."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    kw = {} if cap is None else {"local_edge_cap": cap}
    rows = connected_components(df, **kw).collect()
    out: dict[int, int] = {r["id"]: r["comp"] for r in rows}
    return out


class TestConnectedComponents:
    def test_two_components_min_label(self, spark):
        got = _components(spark, [(1, 2), (2, 3), (10, 11)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_transitive_closure_across_buckets(self, spark):
        """A~B and B~C never co-occur as a pair, yet A,B,C collapse."""
        got = _components(spark, [(5, 9), (9, 2), (7, 8)])
        assert got[5] == got[9] == got[2] == 2
        assert got[7] == got[8] == 7

    def test_direction_and_duplicates_ignored(self, spark):
        got = _components(spark, [(3, 1), (1, 3), (3, 1), (2, 3)])
        assert got == {1: 1, 2: 1, 3: 1}

    def test_chain_converges(self, spark):
        """Label propagation walks one hop per round; a short chain must
        still reach the global min everywhere."""
        chain = [(i, i + 1) for i in range(1, 7)]
        got = _components(spark, chain, cap=0)
        assert set(got.values()) == {1}

    def test_differential_vs_union_find(self, spark):
        """Random graphs vs a pure-Python union-find: every node must
        land in the same partition with the same min-id label."""
        import random

        def uf_components(edges):
            parent: dict[int, int] = {}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comps: dict[int, list[int]] = {}
            for n in parent:
                comps.setdefault(find(n), []).append(n)
            return {n: min(members) for members in comps.values() for n in members}

        for seed in range(4):
            rng = random.Random(seed)
            n = rng.randint(5, 40)
            edges = [
                (rng.randint(0, n), rng.randint(0, n))
                for _ in range(rng.randint(3, 50))
            ]
            edges = [(a, b) for a, b in edges if a != b]
            if not edges:
                continue
            want = uf_components(edges)
            assert _components(spark, edges) == want, (seed, edges)
            if seed < 2:  # distributed path must agree label-for-label
                assert _components(spark, edges, cap=0) == want, (seed, edges)

    def test_non_convergence_raises(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
        with pytest.raises(ConvergenceError):
            connected_components(df, max_iter=1, local_edge_cap=0)

    def test_long_path_converges_in_log_rounds(self, spark):
        """Diameter-200 chain: min-label propagation needs ~200 rounds
        and failed here by ConvergenceError; star contraction must close
        it within the default 25-round (O(log n)) budget."""
        chain = [(i, i + 1) for i in range(200)]
        got = _components(spark, chain, cap=0)
        assert set(got.values()) == {0}
        assert len(got) == 201

    def test_self_loop_only_node_keeps_identity_label(self, spark):
        got = _components(spark, [(1, 2), (7, 7)])
        assert got == {1: 1, 2: 1, 7: 7}


class TestCurationPlans:
    def test_cluster_counts_tie_out_with_pair_detectors(self, spark, sf_dir):
        """Every cluster has >= 2 members (edges only from dup pairs)
        and cluster ids are genuine min-members."""
        rows = curation.dedup_clusters(spark, sf_dir).collect()
        assert rows, "testdata contains near-dup pairs; clusters expected"
        for r in rows:
            assert r["n_members"] >= 2
            assert r["cluster_id"] < r["max_doc"]

    def test_split_is_deterministic_and_total(self, spark, sf_dir):
        a = curation.split_assign(spark, sf_dir).collect()
        b = curation.split_assign(spark, sf_dir).collect()
        assert a == b
        from operating_system_map_reduce_spark.sources.tables import load_table
        total = load_table(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in a) == total
        by = {r["split"]: r["n_docs"] for r in a}
        # 80/10/10 in expectation; loose bounds at small SF
        assert by["train"] > by.get("val", 0) and by["train"] > by.get("test", 0)

    def test_contamination_broadcasts_benchmark_side(self, spark, sf_dir):
        """The benchmark postings ride a broadcast: the corpus side (the
        100 TB side) must not shuffle for the join."""
        df = curation.contamination_check(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan

    def test_kmv_sketch_estimates_true_cardinality(self, spark, sf_dir):
        """KMV with K=64 has relative stderr ~ 1/sqrt(K-2) = 12.7%; the
        estimate must land within 4 sigma of the exact distinct count
        (strata under K tokens must be EXACT by construction)."""
        from pyspark.sql import functions as F
        from operating_system_map_reduce_spark.operators.dedup import tokens_expr
        from operating_system_map_reduce_spark.sources.tables import load_table

        got = {r["lang"]: r for r in
               curation.sketch_distinct_tokens(spark, sf_dir).collect()}
        exact = {
            r["lang"]: r["n"]
            for r in load_table(spark, sf_dir, "documents")
            .select("lang", F.explode(tokens_expr()).alias("tok"))
            .groupBy("lang").agg(F.countDistinct("tok").alias("n")).collect()
        }
        assert set(got) == set(exact)
        for lang, r in got.items():
            if r["n_k"] < curation.KMV_K:
                assert r["est_distinct"] == exact[lang], lang
            else:
                rel = abs(r["est_distinct"] - exact[lang]) / exact[lang]
                assert rel < 0.51, (lang, r["est_distinct"], exact[lang])

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

    def test_quantiles_ordered_and_bounded(self, spark, sf_dir):
        rows = curation.doc_length_quantiles(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["p50"] <= r["p90"] <= r["p99"], r

    def test_stratified_sample_caps_per_stratum(self, spark, sf_dir):
        rows = curation.sample_stratified(spark, sf_dir).collect()
        per_lang: dict[str, list[int]] = {}
        for r in rows:
            per_lang.setdefault(r["lang"], []).append(r["smp_rank"])
        for lang, ranks in per_lang.items():
            assert len(ranks) <= curation.SAMPLE_K
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang


class TestSplitGroupHoldout:
    def test_splits_partition_sources_with_zero_leakage(self, spark, sf_dir):
        from operating_system_map_reduce_spark.sources.tables import load_table

        rows = curation.split_group_holdout(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        assert sum(r["n_docs"] for r in rows) == docs.count()
        # n_sources summing to the global distinct count proves the
        # splits PARTITION the source set (no source double-counted)
        assert (sum(r["n_sources"] for r in rows)
                == docs.select("source").distinct().count())
        assert all(r["leaked_sources"] == 0 for r in rows)

    def test_assignment_is_a_pure_function_of_the_group(self, spark, sf_dir):
        """Pandas replay of the md5 bucket (first 12 hex digits, mod 10
        -- the engine-shared hexval template): every doc of a source
        inherits the source's split, and the replayed per-split census
        equals the Spark one exactly."""
        import hashlib
        import os

        import pandas as pd

        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                              columns=["doc_id", "source"])

        def split_of(source: str) -> str:
            hx = hashlib.md5(f"holdout|{source}".encode()).hexdigest()
            b = int(hx[:12], 16) % 10
            return "train" if b < 8 else ("val" if b < 9 else "test")

        pdf["split"] = pdf["source"].map(split_of)
        want = {
            s: (g["source"].nunique(), len(g))
            for s, g in pdf.groupby("split")
        }
        rows = curation.split_group_holdout(spark, sf_dir).collect()
        got = {r["split"]: (r["n_sources"], r["n_docs"]) for r in rows}
        assert got == want
        # group-level assignment spreads sources across >= 2 splits
        assert len(got) >= 2, got


class TestShuffleEpochShards:
    def test_manifest_is_total_and_balanced(self, spark, sf_dir):
        from operating_system_map_reduce_spark.sources.tables import load_table

        rows = curation.shuffle_epoch_shards(spark, sf_dir).collect()
        total = load_table(spark, sf_dir, "documents").count()
        for epoch in (1, 2):
            per = [r for r in rows if r["epoch"] == epoch]
            assert sum(r["n_docs"] for r in per) == total
            assert {r["shard"] for r in per} == set(range(curation.N_EPOCH_SHARDS))
            # md5 sharding is hash-balanced: no shard more than 2x the mean
            mean = total / curation.N_EPOCH_SHARDS
            assert all(r["n_docs"] < 2 * mean for r in per), per

    def test_epochs_reshuffle_without_moving_data(self, spark, sf_dir):
        """A new epoch is a seed change: the shard histogram stays
        hash-balanced but the serving order (boundary docs) changes."""
        rows = curation.shuffle_epoch_shards(spark, sf_dir).collect()
        e1 = {r["shard"]: (r["first_doc"], r["last_doc"])
              for r in rows if r["epoch"] == 1}
        e2 = {r["shard"]: (r["first_doc"], r["last_doc"])
              for r in rows if r["epoch"] == 2}
        assert e1 != e2, "independent epoch seeds must permute the order"

    def test_boundary_docs_match_sequential_replay(self, spark, sf_dir):
        """first/last per shard equal a pandas replay of the same keyed
        order -- the manifest certifies the order a reader would see."""
        import hashlib
        import os

        import pandas as pd

        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        got = {(r["epoch"], r["shard"]): r for r in
               curation.shuffle_epoch_shards(spark, sf_dir).collect()}
        for epoch in (1, 2):
            keyed = sorted(
                (hashlib.md5(f"epoch{epoch}|{d}".encode()).hexdigest(), d)
                for d in docs["doc_id"])
            by_shard: dict[int, list[int]] = {}
            for k, d in keyed:
                shard = int(k[:12], 16) % curation.N_EPOCH_SHARDS
                by_shard.setdefault(shard, []).append(d)
            for shard, order in by_shard.items():
                row = got[(epoch, shard)]
                assert row["first_doc"] == order[0]
                assert row["last_doc"] == order[-1]
                assert row["n_docs"] == len(order)


class TestDomainTemperatureWeights:
    def test_weights_normalize_and_flatten_the_mix(self, spark, sf_dir):
        from operating_system_map_reduce_spark.plans import textprep

        rows = textprep.domain_temperature_weights(spark, sf_dir).collect()
        assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
        # alpha < 1 flattens: the largest source's weight is below its
        # mass share, the smallest's above
        total = sum(r["char_mass"] for r in rows)
        big = max(rows, key=lambda r: r["char_mass"])
        small = min(rows, key=lambda r: r["char_mass"])
        assert big["weight"] < big["char_mass"] / total
        assert small["weight"] > small["char_mass"] / total
        # epochs_at_budget is budget * w / mass, so sum(epochs * mass)
        # recovers the budget
        got_budget = sum(r["epochs_at_budget"] * r["char_mass"] for r in rows)
        assert abs(got_budget - textprep.MIX_CHAR_BUDGET) < \
            0.01 * textprep.MIX_CHAR_BUDGET
