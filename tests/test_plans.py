"""Physical-plan assertions: the 100 TB properties the queries claim.

Row results are oracle-gated elsewhere; these tests pin the PLAN —
pushdown reaching the parquet scan, small dims broadcasting, partial
(map-side) aggregation, and the absence of the two scale-killers:
all-pairs joins (CartesianProduct / BroadcastNestedLoopJoin) and
row-at-a-time Python UDFs (BatchEvalPython) anywhere in the surface.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from operating_system_map_reduce_spark.plans import window as _win

# Round 7: empty.  The exact-knn baseline (the one all-pairs-by-design
# plan through round 6) was re-planned to blocked per-group top-k --
# quadratic COMPUTE stays, but no CartesianProduct/BNLJ operator
# remains anywhere in the lazy query surface.
ALLPAIRS_BY_DESIGN: set = set()

# 1-row aggregate totals attached via crossJoin(broadcast(...)) plan as
# BroadcastNestedLoopJoin over a CONSTANT single-row side -- the
# declarative alternative to a driver collect of the scalar, not an
# all-pairs blowup.  CartesianProduct stays forbidden for these.
BNLJ_CONSTANT_SIDE = {"tokens_pmi_bigrams", "dedup_graph_triangles",
                      "basket_part_pairs", "pagerank_neardup",
                      "supplier_brand_division",
                      "q22_dormant_value",   # 1-row global avg balance
                      "text_bm25_topk",      # 1-row n/avgdl/df stats
                      "q11_important_parts", # 1-row fair-share cutoff
                      "q15_top_supplier",    # 1-row max-revenue scalar
                      "domain_temperature_weights",  # 1-row normalizer
                      "split_group_holdout",  # 1-row leakage census
                      # each merge round attaches a 1-row argmax pair
                      "token_bpe_trained",
                      # semantic ranker side: the |Q| = 3 query vectors
                      # (IN-filter on literal ids caps the broadcast
                      # side by construction, not by estimate)
                      "retrieval_rrf_fusion"}

_QUERIES = entrymod.queries()

# Queries allowed to BROADCAST a subtree containing a Python stage
# (MapInPandas / ArrowEvalPython): only sides that are PROVABLY
# bounded regardless of corpus size.  Everything else is forbidden --
# the planner's size estimate cannot see through a Python barrier (it
# falls back to the scan size below it), so it will happily broadcast
# a corpus-growing side off a lying estimate: the sf10 decade run
# caught exactly that in dedup_ngram_jaccard (26M-row postings side
# read as < 64 MB, built as a 3-4 GB hash relation; on a real cluster
# that is an OOM, not a slowdown).
PYSTAGE_BROADCAST_BOUNDED: dict[str, str] = {
    "contamination_check":
        "the broadcast side is the BENCHMARK suite's shingle postings "
        "-- in production an eval set is a fixed, bounded corpus "
        "(thousands of docs), exactly what a broadcast build wants; "
        "the %20 testdata stand-in grows with SF but models that "
        "bounded set, and pinning it to a shuffle would pessimize the "
        "real workload (the corpus probe side would shuffle too).  "
        "SELF-ENFORCED since round 12: guards.bounded_broadcast "
        "raises past 5M postings rows",
    # dedup_minhash_lsh left the allowlist in round 12: its signature
    # now lives in an at-rest doc_id-bucketed table
    # (plans/pipeline.py bucketed_signature), so NO Python stage
    # remains anywhere in its query plan -- the sweep below applies to
    # it in full.
    # registered round 12 (plan-shape pin in test_r12_faces.py):
    "retrieval_rrf_fusion":
        "the lexical broadcast side is the |Q| = 3 query docs' "
        "postings (explicitly hinted, ID-filtered BELOW the shingling "
        "stage -- bounded by the query set, not the corpus); the "
        "corpus postings side streams shuffle-free against it.  "
        "SELF-ENFORCED since round 12: guards.bounded_broadcast "
        "raises past 1M postings rows",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _node_depth(line: str) -> int:
    """Position of a plan line's child marker: '+-' for a last child,
    ':-' for a non-last child (e.g. the LEFT side of a BuildLeft
    join).  -1 for a root line with no marker."""
    m = re.search(r"[:+]-", line)
    return m.start() if m else -1


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node's subtree (indentation-parsed from
    the plan tree: a child's marker sits right of its parent's).
    Both marker forms are recognized -- matching only '+-' made a
    BuildLeft broadcast (':- BroadcastExchange') read as depth -1 and
    swallow the whole rest of the plan, probe side included
    (round-11 code-review finding, regression-pinned in
    TestBroadcastSubtrees)."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = _node_depth(ln)
        sub = [ln]
        for nxt in lines[i + 1:]:
            pos = _node_depth(nxt)
            if pos >= 0 and pos <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def _lazy_queries():
    """Streaming entries RUN the stream when called (they return a
    landed sink, not a lazy plan) -- excluded here, their state/shuffle
    shape is asserted in test_streaming.py."""
    return {n: fn for n, fn in _QUERIES.items() if not n.startswith("stream_")}


class TestAntiPatterns:
    @pytest.mark.parametrize("name", sorted(_lazy_queries()))
    def test_no_allpairs_join_or_row_python(self, spark, sf_dir, name):
        plan = _plan(_QUERIES[name](spark, sf_dir))
        if name not in ALLPAIRS_BY_DESIGN:
            assert "CartesianProduct" not in plan, f"{name}: cartesian join"
            if name not in BNLJ_CONSTANT_SIDE:
                assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"
        assert "BatchEvalPython" not in plan, \
            f"{name}: row-at-a-time Python UDF in the plan"
        # the lying-estimate sweep (round 11): no broadcast subtree may
        # contain a Python stage unless the side is provably bounded
        if name not in PYSTAGE_BROADCAST_BOUNDED:
            for sub in _broadcast_subtrees(plan):
                assert "MapInPandas" not in sub \
                    and "ArrowEvalPython" not in sub \
                    and "FlatMapGroupsInPandas" not in sub, \
                    (f"{name}: broadcast of a Python-stage-derived side "
                     f"(the planner cannot size it):\n{sub}")


class TestBroadcastSubtrees:
    def test_buildleft_broadcast_subtree_excludes_probe_side(self):
        """A ':-'-marked (non-last-child) BroadcastExchange must yield
        ONLY its own subtree -- the original '+-'-only parser read its
        depth as -1 and swallowed the probe side, so a corpus-side
        MapInPandas OUTSIDE the broadcast could both mask a violation
        (anything matching the allowlist check leaks in) and flag an
        innocent plan."""
        plan = (
            "*(5) Project [a]\n"
            "+- BroadcastHashJoin [k], [k2], Inner, BuildLeft\n"
            "   :- BroadcastExchange HashedRelationBroadcastMode\n"
            "   :  +- Filter (id IN (3,13,23))\n"
            "   :     +- Scan small\n"
            "   +- MapInPandas probe_batches\n"
            "      +- Scan corpus\n"
        )
        subs = _broadcast_subtrees(plan)
        assert len(subs) == 1
        assert "IN (3,13,23)" in subs[0]
        assert "MapInPandas" not in subs[0]

    def test_buildright_broadcast_subtree_still_parses(self):
        plan = (
            "+- BroadcastHashJoin [k], [k2], Inner, BuildRight\n"
            "   :- MapInPandas probe_batches\n"
            "   :  +- Scan corpus\n"
            "   +- BroadcastExchange HashedRelationBroadcastMode\n"
            "      +- MapInPandas build_batches\n"
            "         +- Scan corpus2\n"
        )
        subs = _broadcast_subtrees(plan)
        assert len(subs) == 1
        assert "build_batches" in subs[0]
        assert "probe_batches" not in subs[0]


class TestPlanShape:
    def test_point_read_pushes_filter_to_scan(self, spark, sf_dir):
        """KVG: the IN-list reaches the parquet reader and the scan
        reads only the projected columns."""
        plan = _plan(_QUERIES["kv_get_point"](spark, sf_dir))
        assert "PushedFilters: [In(p_partkey" in plan, plan
        assert "ReadSchema: struct<p_partkey:bigint,p_name:string>" in plan, plan

    def test_small_dims_broadcast_in_q5(self, spark, sf_dir):
        """region/nation (constant 5/25-row dims) ride hinted broadcast
        joins; supplier/customer grow with SF so their join strategy is
        AQE's call -- the pin only asserts the constant dims never
        shuffle the fact tables."""
        plan = _plan(_QUERIES["q5_region_revenue"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan

    def test_q1_aggregates_partially_mapside(self, spark, sf_dir):
        """The pricing summary combines map-side before the shuffle
        (partial_sum/partial_count), so the exchange moves one row per
        group per partition, not the fact table."""
        plan = _plan(_QUERIES["q1_pricing_summary"](spark, sf_dir))
        assert "partial_sum" in plan, plan

    def test_q1_stays_in_codegen(self, spark, sf_dir):
        # AQE finalizes the plan only on execution; codegen stages show
        # as "*(n)" markers in the executed plan's toString
        df = _QUERIES["q1_pricing_summary"](spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "isFinalPlan=true" in plan and "*(1)" in plan, plan

    def test_deciles_have_no_single_partition_exchange(self, spark, sf_dir):
        """order_value_deciles must not funnel all orders through one
        window task: ranking is distributed across value-derived
        buckets, so no Exchange SinglePartition appears anywhere and
        the window shuffles on the bucket key (VERDICT r03 item 4)."""
        plan = _plan(_QUERIES["order_value_deciles"](spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, plan
        assert "Exchange hashpartitioning(bkt" in plan, plan

    def test_bucketed_join_has_no_join_shuffle(self, spark, sf_dir):
        """bucketed_segment_revenue joins two co-bucketed tables: no
        exchange may feed the join -- the only hashpartitioning exchange
        in the plan is the post-join aggregate's (on the segment)."""
        plan = _plan(_QUERIES["bucketed_segment_revenue"](spark, sf_dir))
        assert "Exchange hashpartitioning(o_custkey" not in plan, plan
        assert "Exchange hashpartitioning(c_mktsegment" in plan, plan

    def test_ann_paths_shuffle_on_buckets_only(self, spark, sf_dir):
        """lsh_knn: every exchange key is a bucket/group key (tbl,
        bucket / qid) -- never a vector equality or a blown-up pair
        id; and the vector payload never rides a broadcast."""
        plan = _plan(_QUERIES["similarity_lsh_knn"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Exchange hashpartitioning(tbl" in plan or \
               "Exchange hashpartitioning(bucket" in plan, plan


class TestRegistryWindow:
    """The driver's correctness gate reads only the first 50 queries()
    entries.  Round 10 made the window MECHANICAL (plans/window.py):
    it is computed from the committed CORRECTNESS_r*.json ledger, so
    these pins assert (a) collect_registry obeys the mechanism, (b)
    the staleness ceiling is enforced by the mechanism's output, and
    (c) the round-10 recovery mandate (the 43-entry r6 cohort skipped
    in round 9, plus the two rule-2 re-entries) holds concretely."""

    WINDOW = list(_QUERIES)[: _win.WINDOW_SIZE]
    LEDGER = _win.load_ledger()

    def test_window_is_the_mechanisms_output(self):
        expect = _win.build_window(list(_QUERIES), self.LEDGER)
        assert self.WINDOW == expect, \
            "queries() front-50 diverged from the computed gate window"

    def test_rule2_reentries_are_declared_and_seated(self):
        """A plan/oracle change MUST land with a REDEFINED bump in the
        same commit; changelog_asof and stream_novelty_filter are round
        10's mandate (r9 verdict directives #2 and #4).  Membership is
        asserted only while an entry is still DUE under rule 2 -- once
        the driver greens it, the clock rotates it out on its own (the
        pin must not go red when CORRECTNESS_r10.json lands)."""
        assert _win.REDEFINED["changelog_asof"] == 9
        # stream_novelty_filter: re-keyed 10 -> 13 when the seed-index
        # derivation changed in round 13, then 13 -> 15 when the wave
        # internals re-planned in round 15 (REDEFINED is one key per
        # entry; earlier re-entries are history recorded in the
        # comments)
        assert _win.REDEFINED["stream_novelty_filter"] == 15
        current = max(self.LEDGER.values(), default=0) + 1
        for name, declared in _win.REDEFINED.items():
            if self.LEDGER.get(name, -1) < declared <= current:
                assert name in self.WINDOW, \
                    f"rule-2 due entry {name} missing its re-check seat"
            # future-keyed entries (declared == current + 1: a change
            # this round's saturated window cannot seat, or one landing
            # after the gate) must NOT displace this round's seats --
            # they are due next round
            assert declared <= current + 1, \
                f"{name} keyed {declared}, beyond next round {current + 1}"

    def test_staleness_ceiling_or_saturated_recovery(self):
        """No entry's newest green row may be more than
        STALENESS_CEILING rounds behind HEAD at this round's judge
        time.  An entry in the current window gets a fresh row this
        round, so only entries OUTSIDE the window can violate -- and a
        violation is tolerable only while the window is saturated with
        due entries (paying down a skipped rotation, round-9 debt)."""
        head = max(self.LEDGER.values(), default=0)
        current = head + 1
        due = set(_win.due_entries(list(_QUERIES), self.LEDGER))
        window = set(self.WINDOW)
        violators = [
            n for n in _QUERIES
            if n not in window
            and current - self.LEDGER.get(n, -10**9) > _win.STALENESS_CEILING
        ]
        if violators:
            # recovery mode: every seat must be spent on a due entry,
            # and no deferred entry may be older than a seated rule-3
            # entry (oldest-first is the schedule)
            assert window <= due, \
                f"stale entries deferred while non-due entries hold seats: {sorted(violators)[:5]}"
            oldest_deferred = min(self.LEDGER.get(n, -1) for n in violators)
            seated_r3 = [n for n in self.WINDOW
                         if n in self.LEDGER
                         and _win.REDEFINED.get(n, -1) <= self.LEDGER[n]]
            assert all(self.LEDGER[n] <= oldest_deferred for n in seated_r3), \
                "a younger entry holds a seat while an older one is deferred"

    def test_never_green_entries_lead_the_window(self):
        never = [n for n in _QUERIES if n not in self.LEDGER]
        missing = [n for n in never if n not in self.WINDOW]
        assert not missing, f"never-driver-checked, outside the gate: {missing}"

    def test_build_window_refuses_registry_past_threshold(self):
        """The 2-round staleness ceiling is pigeonhole-achievable only
        up to HALVES_THRESHOLD registered queries (50 greens per
        round), so the window clock refuses a larger registry instead
        of silently letting entries go stale."""
        n = _win.HALVES_THRESHOLD
        ledger = {f"q{i:03d}": 9 for i in range(n + 1)}
        at_cap = _win.build_window(list(ledger)[:n], ledger)
        assert len(at_cap) == _win.WINDOW_SIZE
        with pytest.raises(ValueError):
            _win.build_window(list(ledger), ledger)
        with pytest.raises(ValueError):
            _win.due_entries(list(ledger), ledger)

    def test_ledger_reader_fails_loudly_without_ledger(self, tmp_path):
        """A package deployed without the committed CORRECTNESS files
        must fail fast, not silently rotate an all-never-green window."""
        with pytest.raises(FileNotFoundError):
            _win.load_ledger(str(tmp_path))

    def test_recovery_schedule_completes_within_two_rounds(self):
        """Simulate the mechanism two ticks forward FROM WHATEVER the
        ledger says now (the pin must keep passing after each new
        CORRECTNESS file lands, so it derives everything from the
        mechanism instead of hard-coding round numbers): greening the
        current window must seat every currently-deferred entry next
        round, and after that round greens, no entry anywhere sits past
        the ceiling and steady state holds."""
        registry = list(_QUERIES)
        head = max(self.LEDGER.values(), default=0)
        deferred = _win.deferred_due(registry, self.LEDGER)

        ledger_next = dict(self.LEDGER)
        ledger_next.update({n: head + 1 for n in self.WINDOW})
        window_next = _win.build_window(registry, ledger_next)
        missing = [n for n in deferred if n not in window_next]
        assert not missing, f"deferred entries without a next-round seat: {missing}"
        assert not _win.deferred_due(registry, ledger_next), \
            "next round's window leaves due entries deferred -- recovery slipped"

        ledger_after = dict(ledger_next)
        ledger_after.update({n: head + 2 for n in window_next})
        stalest = min(ledger_after.values())
        assert (head + 2) - stalest <= _win.STALENESS_CEILING, \
            "an entry would still be past the ceiling two ticks out"
        # and steady state holds: every entry then due fits its window
        assert not _win.deferred_due(registry, ledger_after)

    def test_ledger_reader_matches_driver_semantics(self):
        """Rows-only faces (hash_match=None) count as green; an err or
        a failed compare never does."""
        led = self.LEDGER
        assert led, "CORRECTNESS ledger files missing from repo root"
        # every registered query has had at least one green row, except
        # faces registered THIS round awaiting their first driver row
        # -- and those must hold rule-1 seats in the current window
        never = [n for n in _QUERIES if n not in led]
        window = set(list(_QUERIES)[:_win.WINDOW_SIZE])
        assert set(never) <= window, \
            f"never-green entries outside the gate: {sorted(set(never) - window)}"

    def test_registry_is_consistent(self):
        """Derived from the registry, never a hard-coded count: no
        duplicate names, every query oracled (and no stray oracle),
        and the size within the window clock's capacity."""
        from operating_system_map_reduce_spark.plans import (
            analytics, curation, kvqueries, mining, pipeline, streamqueries,
            textprep)
        names = [n for mod in (analytics, curation, kvqueries, mining,
                               pipeline, streamqueries, textprep)
                 for n in mod.QUERIES]
        assert len(names) == len(set(names)), "a name registered twice"
        assert set(names) == set(_QUERIES)
        assert set(entrymod.oracle_sql()) == set(_QUERIES)
        assert len(_QUERIES) <= _win.HALVES_THRESHOLD


class TestRound12PlanShapes:
    def test_minhash_query_plan_has_no_python_stage(self, spark, sf_dir):
        """The round-12 at-rest re-plan: with the signature written as
        a doc_id-bucketed table, NO Python stage remains anywhere in
        dedup_minhash_lsh's query plan -- every size the planner sees
        is a real parquet statistic, so the lying-estimate class
        cannot recur here regardless of strategy choice.  (The
        signature's mapInPandas runs once, in the write job, not in
        the query.)"""
        plan = _plan(_QUERIES["dedup_minhash_lsh"](spark, sf_dir))
        for node in ("MapInPandas", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "BatchEvalPython"):
            assert node not in plan, f"{node} in the at-rest plan:\n{plan}"

    def test_minhash_bucketed_scan_feeds_the_verify_joins(self, spark, sf_dir):
        """The verify sides must read the bucketed table (Scan parquet
        of b_sig_*), not recompute signatures -- and the candidate-pair
        list must NOT carry an explicit broadcast hint (the round-11
        corpus-growing broadcast); any remaining broadcast is AQE's
        runtime choice over real statistics."""
        df = _QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        assert "b_sig_" in _plan(df).lower()
        logical = df._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint BROADCAST" not in logical, logical

    def test_novelty_filter_rides_the_bucketed_signature(self, spark, sf_dir):
        """corpus_novelty_filter (the re-plan's second consumer): the
        band index derives from the at-rest bucketed signature table,
        so no Python stage remains in the plan, the scan is the b_sig_
        table, and the round-11 SHUFFLE_HASH pin is gone -- strategy
        choice belongs to AQE's real runtime sizes, and the
        lying-estimate class (a corpus-grown index reading as < 64 MB
        through a mapInPandas barrier) cannot recur."""
        df = _QUERIES["corpus_novelty_filter"](spark, sf_dir)
        plan = _plan(df)
        for node in ("MapInPandas", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "BatchEvalPython"):
            assert node not in plan, f"{node} in the at-rest plan:\n{plan}"
        assert "b_sig_" in plan.lower()
        logical = df._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint" not in logical, logical


class TestRound5PlanShapes:
    def test_zorder_stats_is_single_scan_hash_agg(self, spark, sf_dir):
        """Morton arithmetic must stay in codegen: no Python eval, no
        SinglePartition exchange; the aggregate hashes on zblock."""
        plan = _plan(_QUERIES["zorder_cluster_stats"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "hashpartitioning(zblock" in plan, plan

    def test_novelty_filter_probes_index_never_squares_corpus(self, spark, sf_dir):
        """Candidate generation shuffles on the band key (equi-join into
        the corpus index), and the exact-dup path equi-joins on the md5
        -- no cartesian anywhere (also covered by TestAntiPatterns)."""
        plan = _plan(_QUERIES["corpus_novelty_filter"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "band_hash" in plan, plan

    def test_purge_windows_on_cluster_key(self, spark, sf_dir):
        """The canonical-pick window partitions by comp (cluster id) --
        never a global single-partition window over documents."""
        plan = _plan(_QUERIES["dedup_purge_canonical"](spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, plan

    def test_cube_aggregates_partially_mapside(self, spark, sf_dir):
        """CUBE expands grouping sets but must still combine map-side:
        the shuffle carries grouping-set rows per partition, not
        events."""
        plan = _plan(_QUERIES["events_cube_summary"](spark, sf_dir))
        assert "Expand" in plan, plan
        assert "partial_count" in plan or "partial_sum" in plan, plan

    def test_profile_is_one_scan(self, spark, sf_dir):
        """The per-column profiling aggregate reads orders ONCE -- the
        multiple COUNT DISTINCTs plan through a single Expand, never
        one scan per column."""
        plan = _plan(_QUERIES["profile_orders"](spark, sf_dir))
        assert plan.count("FileScan parquet") == 1, plan
        assert "Expand" in plan, plan

    def test_gap_fill_windows_per_user(self, spark, sf_dir):
        """The LOCF window partitions by user_id; the hour grid never
        funnels through one task."""
        plan = _plan(_QUERIES["events_gap_fill"](spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, plan

    def test_pmi_joins_are_keyed(self, spark, sf_dir):
        """PMI joins bigrams to the unigram table on the word key via
        BroadcastHashJoin; the only BNLJ is the constant 1-row totals
        attach (see BNLJ_CONSTANT_SIDE)."""
        plan = _plan(_QUERIES["tokens_pmi_bigrams"](spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_q6_filters_reach_parquet_scan(self, spark, sf_dir):
        """The pure-pushdown showcase: all three predicates appear in
        PushedFilters and the scan reads only the three used columns."""
        plan = _plan(_QUERIES["q6_forecast_revenue"](spark, sf_dir))
        assert "PushedFilters:" in plan and "l_shipdate" in plan.split(
            "PushedFilters:")[1][:400], plan
        assert "l_returnflag" not in plan.split("ReadSchema:")[1][:300], plan

    def test_q19_disjunction_splits_and_pushes_both_scans(self, spark, sf_dir):
        """The OR-of-ANDs face: Catalyst must split the disjunction so
        the part-only prefix (brand x size bands) pushes into the part
        scan and the lineitem-only prefix (quantity bands) into the
        lineitem scan -- neither conjunct alone holds for every row, so
        this only happens if the predicate stays declarative."""
        plan = _plan(_QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
        scans = plan.split("FileScan parquet")[1:]  # [0] is the pre-scan tree
        part_scan = [s for s in scans if "p_brand" in s.split("ReadSchema:")[0]]
        li_scan = [s for s in scans if "l_quantity" in s.split("ReadSchema:")[0]]
        assert part_scan and "Or(And(" in part_scan[0].split(
            "PushedFilters:")[1][:600], plan
        assert li_scan and "Or(And(" in li_scan[0].split(
            "PushedFilters:")[1][:600], plan

    def test_q18_aggregates_before_the_join(self, spark, sf_dir):
        """The aggregated-subquery semi-join: the lineitem hash
        aggregate (the qualifier) must run BELOW the join -- a
        correlated re-execution or a join-then-filter would read as a
        join above the raw lineitem scan with no intervening agg."""
        plan = _plan(_QUERIES["q18_large_orders"](spark, sf_dir))
        join_split = plan.split("SortMergeJoin") if "SortMergeJoin" in plan \
            else plan.split("BroadcastHashJoin")
        assert len(join_split) >= 2, plan
        # the qualifier aggregate appears below (after, in tree print
        # order) the first join operator and filters on total_qty
        below = join_split[-1]
        assert "HashAggregate" in below and "sum(l_quantity" in below, plan

    def test_semantic_dedup_shuffles_on_cell_only(self, spark, sf_dir):
        """SemDeDup's whole point: the only data shuffle keys on the
        cluster cell (the applyInPandas group); everything after the
        per-cell scoring is manifest-sized (the final sort's range
        partitioning)."""
        plan = _plan(_QUERIES["dedup_semantic"](spark, sf_dir))
        hash_exchanges = [l for l in plan.splitlines()
                          if "Exchange hashpartitioning" in l]
        assert len(hash_exchanges) == 1, plan
        assert "hashpartitioning(cell" in hash_exchanges[0], plan

    def test_symspell_join_keys_on_deletion_key(self, spark, sf_dir):
        """The linear fuzzy path must meet candidates via the deletion
        key EQUI join -- nkey in the join keys, never a theta join over
        a block."""
        plan = _plan(_QUERIES["fuzzy_match_symspell"](spark, sf_dir))
        join_lines = [l for l in plan.splitlines()
                      if "Join" in l and "nkey" in l]
        assert join_lines, plan


class TestBenchRegistry:
    def test_headline_is_subset_of_registry(self):
        """bench.py silently skips HEADLINE names missing from
        queries(); a typo would drop a query from the published numbers
        with no error, so pin the subset relation (and no duplicates)."""
        import bench

        missing = [n for n in bench.HEADLINE if n not in _QUERIES]
        assert not missing, f"HEADLINE names not in registry: {missing}"
        assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


class TestRound6PlanShapes:
    def test_bpe_merge_pairs_two_aggregates_topk(self, spark, sf_dir):
        """Corpus size must only enter through the first aggregate: the
        pair census runs over the distinct vocabulary, all JVM-side,
        with a TakeOrderedAndProject top-20 (never a global sort of the
        pair table)."""
        plan = _plan(_QUERIES["bpe_merge_pairs"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "TakeOrderedAndProject" in plan
        assert plan.count("Exchange hashpartitioning") == 2, plan

    def test_nation_rolling_windows_run_over_aggregate(self, spark, sf_dir):
        """All three windows must partition by their keys (nation /
        month) -- no single-partition window -- and the lineitem scan
        must prune to the four referenced columns."""
        plan = _plan(_QUERIES["nation_rolling_revenue"](spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "Window" in plan
        # the only acceptable SinglePartition would come from a window
        # with no partition key; every window here has one
        assert "Exchange SinglePartition" not in plan, plan
        import re
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        while m and "l_suppkey" not in m.group(1):
            m = re.search(r"ReadSchema: struct<([^>]*)>",
                          plan[m.end():])
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert cols == {"l_suppkey", "l_shipdate", "l_extendedprice",
                        "l_discount"}, cols


# Queries whose plans legitimately contain Exchange SinglePartition:
# global scalar totals (a partial aggregate collapses 1 row/partition)
# or a window over an already-aggregated ~80-row series.  None of them
# move fact-table rows through one task.
SINGLE_PARTITION_JUSTIFIED = {
    "all_users_fold",            # global newline fold (ALL command)
    "kv_all_keys",               # global newline fold (KVA command)
    "basket_part_pairs",         # n_orders scalar total
    "tokens_pmi_bigrams",        # unigram/bigram scalar totals
    "dedup_graph_triangles",     # triangle/wedge scalar totals
    "events_funnel",             # per-stage global counts
    "lm_unigram_score",          # corpus token scalar total
    "orders_monthly_growth",     # lag window over the ~80-month series
    "profile_orders",            # one-row profiling aggregate
    "q6_forecast_revenue",       # single-row pushdown aggregate
    "pagerank_neardup",          # per-iteration 1-row convergence totals
    "supplier_brand_division",   # 1-row brand-count divisor
    "q14_promo_revenue",         # 1-row conditional-ratio aggregate
    "q17_small_quantity",        # 1-row revenue-loss aggregate
    "q22_dormant_value",         # 1-row global avg-balance subquery
    "text_bm25_topk",            # 1-row avgdl aggregate
    "q11_important_parts",       # 1-row fair-share cutoff over the
                                 #   per-part frame (not the fact scan)
    "q15_top_supplier",          # 1-row MAX over the per-supplier frame
    "domain_temperature_weights",  # 1-row pow-mass normalizer over the
                                   #   |sources|-row frame
    "split_group_holdout",         # 1-row leakage census over the
                                   #   |sources|-row frame
}


class TestRound8PlanShapes:
    def test_q10_topk_never_global_sorts(self, spark, sf_dir):
        """The top-20 plans as TakeOrderedAndProject (per-partition
        heaps + driver merge of 20-row partials), never a full sort of
        the customer aggregate."""
        plan = _plan(_QUERIES["q10_returned_items"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, plan

    def test_q17_decorrelates_to_one_fact_scan(self, spark, sf_dir):
        """The correlated per-part average is a window over ONE
        lineitem scan -- the aggregate-then-self-join form would show
        two lineitem scans, a correlated re-execution many."""
        plan = _plan(_QUERIES["q17_small_quantity"](spark, sf_dir))
        li_scans = [s for s in plan.split("FileScan parquet")[1:]
                    if "l_quantity" in s.split("ReadSchema:")[1][:300]]
        assert len(li_scans) == 1, plan
        assert "l_partkey" in plan.split("Window")[1][:400], plan

    def test_q22_not_exists_plans_as_anti_join(self, spark, sf_dir):
        """NOT EXISTS(recent orders) must be a hash LeftAnti join on
        custkey -- never a per-row subquery probe or a nested loop."""
        plan = _plan(_QUERIES["q22_dormant_value"](spark, sf_dir))
        assert "LeftAnti" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_q7_filters_dims_before_fact_joins(self, spark, sf_dir):
        """The nation-pair predicate shrinks supplier/customer BEFORE
        they meet lineitem: the n_name IN filter must sit against the
        nation scans, not above the fact joins."""
        plan = _plan(_QUERIES["q7_nation_volume"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        # ReadSchema ends the scan line: match within it only, or the
        # next operator's column list false-positives the filter
        n_scans = [s for s in plan.split("FileScan parquet")[1:]
                   if "n_name" in
                   s.split("ReadSchema:")[1].splitlines()[0]]
        assert n_scans and all("PushedFilters: [In(n_name" in s[:800]
                               for s in n_scans), plan

    def test_q2_fact_scanned_and_shuffled_once(self, spark, sf_dir):
        """One lineitem scan; the fact rows cross exactly one exchange
        (the partial-aggregated (l_partkey, l_suppkey) shuffle); the
        window's single-key l_partkey exchange sits ABOVE the aggregate
        so it moves the ~|part x supplier| frame, not the fact scan."""
        plan = _plan(_QUERIES["q2_min_cost_supplier"](spark, sf_dir))
        li_scans = [s for s in plan.split("FileScan parquet")[1:]
                    if "l_extendedprice" in s.split("ReadSchema:")[1][:300]]
        assert len(li_scans) == 1, plan
        exchanges = [seg.splitlines()[0] for seg in
                     plan.split("Exchange hashpartitioning(l_partkey")[1:]]
        assert len(exchanges) == 2, plan
        agg_side = [e for e in exchanges if "l_suppkey" in e]
        assert len(agg_side) == 1, plan          # fact shuffle, once
        assert "partial_min" in plan, plan       # map-side combine on it
        # the single-key (window) exchange is fed by the final aggregate:
        # below it in the tree a HashAggregate appears before any FileScan
        win_seg = [seg for seg in
                   plan.split("Exchange hashpartitioning(l_partkey")[1:]
                   if "l_suppkey" not in seg.splitlines()[0]][0]
        agg_at = win_seg.find("HashAggregate")
        scan_at = win_seg.find("FileScan")
        assert agg_at != -1 and (scan_at == -1 or agg_at < scan_at), plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_q21_census_costs_one_orderkey_exchange(self, spark, sf_dir):
        """The EXISTS + NOT EXISTS pair decorrelates to two window
        counts over ONE l_orderkey partition: a single lineitem scan
        and no self-join of the flagged frame."""
        plan = _plan(_QUERIES["q21_blocking_suppliers"](spark, sf_dir))
        li_scans = [s for s in plan.split("FileScan parquet")[1:]
                    if "l_returnflag" in s.split("ReadSchema:")[1][:300]]
        assert len(li_scans) == 1, plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_q13_keeps_zero_order_customers(self, spark, sf_dir):
        """The priority predicate rides the join condition: the plan
        keeps the LEFT outer join (a WHERE would degrade it to Inner
        and silently drop the zero-order bucket Q13 exists to count)."""
        plan = _plan(_QUERIES["q13_order_distribution"](spark, sf_dir))
        assert "LeftOuter" in plan, plan

    def test_q11_threshold_reaggregates_the_part_frame(self, spark, sf_dir):
        """The fair-share cutoff re-aggregates the per-part frame, not
        the fact table: exactly one lineitem scan feeds both sides of
        the broadcast threshold join."""
        plan = _plan(_QUERIES["q11_important_parts"](spark, sf_dir))
        li_scans = [s for s in plan.split("FileScan parquet")[1:]
                    if "l_quantity" in s.split("ReadSchema:")[1][:300]]
        # the pv subtree appears twice in the logical plan; physical
        # reuse (ReusedExchange) or two scans of the same file are both
        # acceptable at this size -- what is NOT acceptable is a third
        assert 1 <= len(li_scans) <= 2, plan
        assert "ReusedExchange" in plan or len(li_scans) == 1 or \
            "Exchange hashpartitioning(l_partkey" in plan, plan

    def test_shuffle_epoch_orders_by_aggregate_not_sort(self, spark, sf_dir):
        """Training-order shuffle: one documents scan, ONE hash
        exchange (the (epoch, shard) aggregate with map-side partials);
        the within-shard first/last docs come from min_by/max_by
        aggregates -- no sort of the corpus anywhere (the only Sort is
        the final 16-row presentation orderBy)."""
        plan = _plan(_QUERIES["shuffle_epoch_shards"](spark, sf_dir))
        doc_scans = [s for s in plan.split("FileScan parquet")[1:]
                     if "doc_id" in s.split("ReadSchema:")[1][:200]]
        assert len(doc_scans) == 1, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "min_by" in plan and "max_by" in plan, plan
        assert "partial_min_by" in plan, plan   # map-side combine
        # no sort below the aggregate: every Sort (if any) sits above
        # the final HashAggregate in the tree
        agg_at = plan.find("HashAggregate")
        assert "Sort " not in plan[agg_at:], plan

    def test_temperature_weights_normalizer_is_broadcast(self, spark, sf_dir):
        """The pow-mass normalizer is a 1-row aggregate OF the
        per-source frame joined back as a broadcast constant -- never a
        second aggregation of the corpus, never a shuffle of the frame
        against itself."""
        plan = _plan(_QUERIES["domain_temperature_weights"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan, plan
        doc_scans = [s for s in plan.split("FileScan parquet")[1:]
                     if "source" in s.split("ReadSchema:")[1][:200]]
        assert 1 <= len(doc_scans) <= 2, plan
        assert plan.count("Exchange hashpartitioning(source") <= 2, plan

    def test_scd2_three_windows_share_one_exchange(self, spark, sf_dir):
        """lag (change detect), lead (interval close) and the DESC
        first_value (current version) all partition by user_id: one
        hash exchange total -- the opposite-direction window re-SORTS
        within partitions but must never re-shuffle."""
        plan = _plan(_QUERIES["scd2_profile_versions"](spark, sf_dir))
        assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
        ev_scans = [s for s in plan.split("FileScan parquet")[1:]
                    if "props" in s.split("ReadSchema:")[1][:200]]
        assert len(ev_scans) == 1, plan

    def test_incremental_agg_merge_equals_single_pass(self, spark, sf_dir):
        """The MV-maintenance contract: base(<=S) merged with
        delta(>S) reproduces the from-scratch single-pass aggregate
        exactly (counts/seqs integer-exact, the double sum within the
        repo's 1e-9 rel tol for summation regrouping)."""
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.plans import kvqueries
        from operating_system_map_reduce_spark.sources.tables import load_table

        got = {r["key"]: r for r in
               _QUERIES["changelog_incremental_agg"](spark, sf_dir).collect()}
        exp = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"),
                 F.max("event_id").alias("s"))
            .collect()
        )
        assert len(got) == len(exp)
        for r in exp:
            g = got[r["user_id"]]
            assert g["n_events"] == r["n"]
            assert g["last_seq"] == r["s"]
            assert abs(g["total_value"] - r["v"]) <= 1e-9 * max(1.0, abs(r["v"]))

    def test_incremental_agg_shuffles_once_per_side(self, spark, sf_dir):
        """Both the base and delta aggregates hash-partition on
        user_id and the full-outer merge reuses that partitioning: two
        aggregate exchanges (one per side), no cartesian, no
        single-partition funnel."""
        plan = _plan(_QUERIES["changelog_incremental_agg"](spark, sf_dir))
        assert plan.count("Exchange hashpartitioning(user_id") <= 2, plan
        assert "CartesianProduct" not in plan, plan
        assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0], plan

    def test_bm25_never_explodes_or_shuffles_the_corpus(self, spark, sf_dir):
        """Fixed query terms mean tf/dl are array expressions: the
        plan must contain NO explode and NO hash-partitioned exchange
        -- the only exchange is the 1-row stats SinglePartition, the
        only join its constant broadcast."""
        plan = _plan(_QUERIES["text_bm25_topk"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, plan
        assert "Generate explode" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert plan.count("CartesianProduct") == 0, plan


class TestSinglePartitionCensus:
    @pytest.mark.parametrize("name", sorted(_lazy_queries()))
    def test_single_partition_only_where_justified(self, spark, sf_dir, name):
        """A SinglePartition exchange outside the allow-list means a new
        query funnels data through one task -- the classic hidden
        scale-killer.  Additions to the list need a justification
        comment."""
        plan = _plan(_QUERIES[name](spark, sf_dir))
        if name in SINGLE_PARTITION_JUSTIFIED:
            return
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: unjustified SinglePartition exchange")
