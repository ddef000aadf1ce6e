"""Property-based and randomized-differential tests.

The pure-Python quota state machine gets full hypothesis treatment
(cheap per example); the Spark operators get one seeded randomized
differential run each (a Spark job per hypothesis example would be
prohibitively slow, and the seeded bulk run covers the same input
space).
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from operating_system_map_reduce_spark.operators.quota import QuotaTracker


events_strategy = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=1000, allow_nan=False),   # ts offset
        st.integers(min_value=0, max_value=20),                    # amount
    ),
    max_size=60,
)


class TestQuotaTrackerProperties:
    @given(events=events_strategy,
           cap=st.integers(min_value=1, max_value=40),
           window=st.floats(min_value=0.5, max_value=100))
    @settings(max_examples=300, deadline=None)
    def test_against_bruteforce_and_invariants(self, events, cap, window):
        """Differential vs an independent brute-force model: an event is
        admitted iff the sum of previously-ADMITTED events younger than
        the window plus its amount fits the cap; rejected events leave
        no trace.  Live sum never exceeds the cap."""
        tracker = QuotaTracker(cap, window)
        admitted_log: list[tuple[float, int]] = []
        for ts, amount in sorted(events):
            live = sum(a for t, a in admitted_log if t > ts - window)
            want = live + amount <= cap
            got = tracker.check_add(amount, ts)
            assert got == want
            if got:
                admitted_log.append((ts, amount))
                assert live + amount <= cap
            # internal state only ever holds admitted, in-window events
            assert sum(a for _, a in tracker.events) <= cap

    @given(events=events_strategy)
    @settings(max_examples=100, deadline=None)
    def test_zero_cap_window_edge(self, events):
        """amount 0 events always admit at cap 0; positive never do."""
        t = QuotaTracker(0, 10.0)
        for ts, amount in sorted(events):
            assert t.check_add(amount, ts) == (amount == 0)


class TestAsofJoinDifferential:
    def test_random_bulk_vs_bruteforce(self, spark):
        from operating_system_map_reduce_spark.operators.temporal import asof_join

        rng = random.Random(42)
        keys = ["a", "b", "c"]
        left_rows = [(i, rng.choice(keys), rng.randint(0, 500))
                     for i in range(200)]
        right_rows = [(1000 + i, rng.choice(keys), rng.randint(0, 500))
                      for i in range(200)]

        left = spark.createDataFrame(left_rows, ["lid", "k", "lts"])
        right = spark.createDataFrame(right_rows, ["rid", "k", "rts"])
        got = {r["lid"]: (r["rid"], r["rts"]) for r in asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "rts"], tie_col="rid").collect()}

        for lid, k, lts in left_rows:
            cands = [(rts, rid) for rid, rk, rts in right_rows
                     if rk == k and rts <= lts]
            want = (None, None)
            if cands:
                rts, rid = max(cands)   # greatest ts, then greatest rid
                want = (rid, rts)
            assert got[lid] == want, f"lid={lid}"

    def test_random_bulk_with_tolerance(self, spark):
        from operating_system_map_reduce_spark.operators.temporal import asof_join

        rng = random.Random(7)
        left_rows = [(i, "k", rng.randint(0, 300)) for i in range(100)]
        right_rows = [(1000 + i, "k", rng.randint(0, 300)) for i in range(100)]
        tol = 25
        left = spark.createDataFrame(left_rows, ["lid", "k", "lts"])
        right = spark.createDataFrame(right_rows, ["rid", "k", "rts"])
        got = {r["lid"]: (r["rid"], r["rts"]) for r in asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "rts"], tie_col="rid", tolerance=tol).collect()}
        for lid, _k, lts in left_rows:
            cands = [(rts, rid) for rid, _rk, rts in right_rows if rts <= lts]
            want = (None, None)
            if cands:
                rts, rid = max(cands)
                if rts >= lts - tol:
                    want = (rid, rts)
            assert got[lid] == want


class TestBinlogCodecProperties:
    """Hypothesis round-trips for the reference-format codec: any
    sequence of well-formed entries (arbitrary binary fields, including
    empty ones) must serialize and parse back identically, with sizes
    matching the entry_size arithmetic the reference tests assert."""

    _tags = None

    @staticmethod
    def _entries_strategy():
        from operating_system_map_reduce_spark.sources import binlog as B

        field = st.binary(min_size=0, max_size=64)
        return st.lists(st.one_of(
            st.tuples(st.just(B.AUTHENTRY), field, field, field, field),
            st.tuples(st.just(B.KVENTRY), field, field),
            st.tuples(st.just(B.KVUPDATE), field, field),
            st.tuples(st.just(B.KVDELETE), field),
            st.tuples(st.just(B.AUTHDIFF), field, field),
        ), min_size=0, max_size=20)

    @given(entries=_entries_strategy())
    @settings(max_examples=100, deadline=None)
    def test_round_trip_and_size_arithmetic(self, entries, tmp_path_factory):
        from operating_system_map_reduce_spark.sources import binlog as B

        path = str(tmp_path_factory.mktemp("binlog") / "f.dir")
        n = B.write_entries(path, entries)
        assert n == sum(
            B.entry_size(t, *(len(f) for f in fs))
            for t, *fs in entries)
        assert list(B.read_entries(path)) == [tuple(e) for e in entries]
        # every entry lands 8-byte aligned, the format.h invariant
        assert n % 8 == 0


class TestDeletionNeighborhoodCompleteness:
    """SymSpell soundness: two strings at Levenshtein distance <= 1
    ALWAYS share a single-deletion key (hypothesis over random string
    pairs, pure Python -- the same key set the Spark expression and the
    DuckDB oracle generate)."""

    @staticmethod
    def _keys(s: str) -> set[str]:
        return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}

    @staticmethod
    def _lev1_neighbors(s: str, rng: random.Random, alphabet: str) -> list[str]:
        out = [s]  # distance 0
        if s:
            i = rng.randrange(len(s))
            out.append(s[:i] + s[i + 1:])                      # deletion
            out.append(s[:i] + rng.choice(alphabet) + s[i + 1:])  # substitution
        j = rng.randrange(len(s) + 1)
        out.append(s[:j] + rng.choice(alphabet) + s[j:])       # insertion
        return out

    @given(base=st.text(alphabet="abc", min_size=0, max_size=12),
           seed=st.integers(min_value=0, max_value=10_000))
    @settings(max_examples=300, deadline=None)
    def test_d_le_1_pairs_share_a_key(self, base, seed):
        rng = random.Random(seed)
        for other in self._lev1_neighbors(base, rng, "abc"):
            assert self._keys(base) & self._keys(other), (base, other)
