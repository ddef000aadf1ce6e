"""Mechanical gate-window clock.

The driver's correctness gate checks the FIRST ``WINDOW_SIZE`` entries
of ``queries()`` in insertion order.  The window is a pure FUNCTION of

  * the CORRECTNESS_r*.json ledger the driver commits at repo root
    (newest green row per query), and
  * the ``REDEFINED`` declaration below (rule-2 re-entries),

so rotation cannot be skipped: when a round's correctness file lands,
the next import computes the next window from it.  A plan or oracle
change only has to set its query's round in ``REDEFINED``; the clock
itself ticks on its own.

Selection rules:
  1. queries that have NEVER had a green driver row lead the window;
  2. queries whose plan/oracle definition changed since their newest
     green row re-enter regardless of age (a green row for old
     semantics verifies nothing);
  3. remaining seats refresh oldest-newest-row-first (ties broken by
     name for determinism).

Staleness ceiling: one round greens exactly the 50-seat window, so an
N-entry registry can give every entry a row at most every
ceil(N/50) rounds.  Pigeonhole makes a judge-time ceiling of
``STALENESS_CEILING`` = 2 achievable ONLY for N <= ``HALVES_THRESHOLD``
= 150, so ``build_window`` refuses a larger registry: a new face past
150 must replace an old one.

When the due backlog exceeds the window (a skipped rotation), the
window saturates with the OLDEST due entries and the remainder
recovers next round -- ``deferred_due`` names them so the recovery
schedule is explicit.
"""

from __future__ import annotations

import glob
import json
import os
import re

WINDOW_SIZE = 50
HALVES_THRESHOLD = 150  # largest registry the 2-round ceiling admits
STALENESS_CEILING = 2  # rounds behind HEAD at judge time

# Rule-2 declarations: query name -> round in which its plan or oracle
# definition last CHANGED (one key per query; a later change replaces
# the round).  An entry jumps the age queue while its newest green row
# predates its redefinition round; once the gate re-greens it the
# jump expires on its own.
#
# ORDERING REQUIREMENT: the check is the bounded
# ``ledger[n] < redefined[n] <= current_round`` in both build_window
# and due_entries, and all three are ROUND numbers.  A green row
# recorded in round R BEFORE a late-round-R plan change would satisfy
# the lower bound and silently vouch for the obsolete plan, so
# plan-change commits must land before the round's gate run.  A plan
# change made AFTER a round's gate already produced its row -- or one
# the round's saturated window cannot seat -- is keyed to round+1, and
# the upper bound then DEFERS it: it is due next round and cannot
# displace the current round's seats early.
REDEFINED: dict[str, int] = {
    "orders_above_customer_avg": 7,
    "similarity_cosine_topk": 7,
    "text_tfidf_top_terms": 7,
    "events_gap_fill": 7,
    "q19_disjunctive_revenue": 8,
    "events_funnel": 8,
    "events_retention_cohorts": 8,
    "q3_shipping_priority": 8,
    "q5_region_revenue": 8,
    # coalesce guard on the snapshot probe
    "changelog_asof": 9,
    # band index from the at-rest bucketed signature table
    "corpus_novelty_filter": 12,
    # postings from the shingle-bucketed b_post table, no join hint
    "dedup_ngram_jaccard": 13,
    "dedup_containment": 13,
    # edge set from the at-rest b_edge table (built from ngram's pairs)
    "pagerank_neardup": 13,
    "dedup_graph_triangles": 13,
    # verify re-expressed as the count-join over b_post
    "dedup_jaccard_ppjoin": 14,
    # candidate join's SHUFFLE_HASH hint removed
    "dedup_minhash_lsh": 14,
    # per-wave internals re-planned (wave bands from b_sig, wave id
    # from the staged replay order); rows and oracles unchanged
    "stream_novelty_filter": 15,
    "stream_novelty_index_compact": 15,
    # cores-keyed repartition before the deletion-neighborhood explode
    "fuzzy_match_symspell": 15,
}


def _repo_root() -> str:
    # plans/window.py -> plans -> package -> repo root; the ledger
    # files are committed next to __spark_entry__.py
    return os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))


def load_ledger(root: str | None = None) -> dict[str, int]:
    """Newest GREEN driver round per query, from CORRECTNESS_r*.json.

    Green = no error, row counts match, and neither schema nor hash
    compare failed (rows-only faces report hash_match=None -- that is
    their strongest available check and counts as their green row,
    matching how the judge reads the ledger).

    Fails LOUDLY when the ledger is absent or unreadable: the window
    is a pure function of these files, so a package deployed without
    them would otherwise silently rotate a completely different window
    (every entry 'never green', alphabetical first 50)."""
    newest: dict[str, int] = {}
    pat = os.path.join(root or _repo_root(), "CORRECTNESS_r*.json")
    paths = [p for p in glob.glob(pat)
             if re.search(r"CORRECTNESS_r(\d+)\.json$", p)]
    if not paths:
        raise FileNotFoundError(
            f"no CORRECTNESS_r*.json ledger at {pat!r} -- the gate "
            "window cannot be computed without the committed ledger")
    for path in paths:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path) as fh:      # unreadable/invalid JSON: raise --
            rows = json.load(fh)    # a corrupt ledger must not silently
                                    # shrink the window's history
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (row.get("err") is None
                     and row.get("rows_match") is True
                     and row.get("schema_match") is not False
                     and row.get("hash_match") is not False)
            if green and rnd > newest.get(name, -1):
                newest[name] = rnd
    return newest


def _check_capacity(registry: list[str]) -> None:
    if len(registry) > HALVES_THRESHOLD:
        raise ValueError(
            f"registry holds {len(registry)} queries; the "
            f"{STALENESS_CEILING}-round staleness ceiling admits at most "
            f"{HALVES_THRESHOLD} -- retire a face before adding one")


def build_window(registry: list[str], ledger: dict[str, int],
                 redefined: dict[str, int] | None = None,
                 size: int = WINDOW_SIZE) -> list[str]:
    """Deterministic gate window for the CURRENT round.

    Current round = 1 + the newest round in the ledger (the driver
    writes round N's file at N's end, so during round N the ledger
    tops out at N-1).  Raises ValueError past HALVES_THRESHOLD
    registered queries."""
    _check_capacity(registry)
    redefined = REDEFINED if redefined is None else redefined
    head = max(ledger.values(), default=0)
    current_round = head + 1

    never = sorted(n for n in registry if n not in ledger)
    # rule 2 gates on current_round: an entry keyed to round+1 per the
    # ORDERING REQUIREMENT above is due NEXT round, not now
    rule2 = sorted(n for n in registry
                   if n in ledger and ledger[n] < redefined.get(n, -1)
                   <= current_round)
    seated = set(never) | set(rule2)
    rest = sorted((n for n in registry if n not in seated),
                  key=lambda n: (ledger[n], n))
    return (never + rule2 + rest)[:size]


def due_entries(registry: list[str], ledger: dict[str, int],
                redefined: dict[str, int] | None = None) -> list[str]:
    """Entries that MUST be (re-)checked this round: never green,
    redefined since their newest green row, or at/past the staleness
    ceiling (newest green row <= head - STALENESS_CEILING, i.e. the
    row would be > ceiling rounds behind at this round's judge)."""
    _check_capacity(registry)
    redefined = REDEFINED if redefined is None else redefined
    head = max(ledger.values(), default=0)
    current_round = head + 1
    out = []
    for n in registry:
        rnd = ledger.get(n)
        if (rnd is None
                or rnd < redefined.get(n, -1) <= current_round
                or rnd <= head - STALENESS_CEILING):
            out.append(n)
    return out


def deferred_due(registry: list[str], ledger: dict[str, int],
                 redefined: dict[str, int] | None = None,
                 size: int = WINDOW_SIZE) -> list[str]:
    """Due entries that do NOT fit this round's window (recovery debt
    owed to the NEXT round).  Non-empty only while a skipped rotation
    is being paid down; the freshness pin in tests/test_plans.py
    asserts it is only ever non-empty when the window is saturated
    with due entries."""
    window = set(build_window(registry, ledger, redefined, size))
    return [n for n in due_entries(registry, ledger, redefined)
            if n not in window]
