"""Self-enforcing broadcast bounds.

The plan sweep (tests/test_plans.py PYSTAGE_BROADCAST_BOUNDED)
forbids broadcasting any side the planner cannot size -- a Python
stage in the subtree makes every size estimate a lie -- unless the
side is provably bounded.  Until this module, "provably bounded" was
enforced by a comment: the allowlist RATIONALE said why the side
cannot grow with the corpus, and nothing checked it at run time.  A
workload drift (an eval suite that quietly grew 1000x, a query set
that became a corpus) would ride the existing allowlist entry straight
into the broadcast OOM the sweep exists to prevent.

``bounded_broadcast`` makes the claim self-enforcing: it counts the
side when the query plan is BUILT (one extra Spark job over the
allegedly-small side -- by the allowlist's own claim that side is
cheap to count; if counting it is expensive, it was never broadcast-
safe) and raises before any broadcast is attempted when the bound is
exceeded.  Growth now fails loudly with the bound and the observed
count in the message, instead of OOMing an executor fleet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BroadcastBoundExceeded(RuntimeError):
    """An allowlisted broadcast side outgrew its declared bound."""


# (session id, what, sf key) -> verified row count.  Within one
# session the side derives from the same immutable parquet inputs, so
# one verification per (session, side) suffices -- without the memo
# the count job re-ran the side's Python shingling stage on EVERY
# invocation (bench steady state: contamination_check 1.24 -> 4.49 s).
_VERIFIED: dict = {}


def bounded_broadcast(df: DataFrame, max_rows: int, what: str,
                      memo_key: object | None = None) -> DataFrame:
    """``F.broadcast(df)`` with the boundedness claim enforced.

    ``max_rows`` is the declared bound on the side's row count --
    pick it from the workload's design (an eval suite's size, |Q| x
    max postings per query doc), generously enough that only a
    drifted workload trips it, and small enough that a relation under
    it broadcasts safely (rows x row width well under executor
    memory).

    ``memo_key``: pass a key identifying the side's IMMUTABLE input
    (e.g. (session id, sf_dir)) to verify once per session instead of
    per invocation; omit it for sides whose input can change between
    calls.

    MEMO CONTRACT:
    the memo skips re-verification for as long as the key matches --
    it does NOT watch the input.  A caller whose "immutable" input can
    be replaced IN PLACE mid-session (e.g. regenerated parquet at the
    same path) must fold a change detector into the key itself; the
    registered callers key on ``os.stat(...).st_mtime_ns`` of the
    source file plus the applicationId, so an in-place replacement
    changes the key and forces a fresh count (pinned in
    tests/test_guards.py::test_memo_reverifies_on_changed_key).  A
    standing service that cannot cheaply fingerprint its input should
    omit ``memo_key`` and pay the count per invocation."""
    if memo_key is not None and _VERIFIED.get((what, memo_key)) is not None:
        return F.broadcast(df)
    n = df.count()
    if n > max_rows:
        raise BroadcastBoundExceeded(
            f"{what}: broadcast side has {n:,} rows, over the declared "
            f"bound of {max_rows:,} -- the workload has outgrown the "
            "broadcast plan; use a shuffle join (or re-derive the bound "
            "if the workload is still genuinely bounded)")
    if memo_key is not None:
        _VERIFIED[(what, memo_key)] = n
    return F.broadcast(df)
