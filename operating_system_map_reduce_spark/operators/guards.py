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

from operating_system_map_reduce_spark.sources.tables import derived


class BroadcastBoundExceeded(RuntimeError):
    """An allowlisted broadcast side outgrew its declared bound."""


def bounded_broadcast(df: DataFrame, max_rows: int, what: str,
                      sf_dir: str, source: str) -> DataFrame:
    """``F.broadcast(df)`` with the boundedness claim enforced.

    ``max_rows`` is the declared bound on the side's row count --
    pick it from the workload's design (an eval suite's size, |Q| x
    max postings per query doc), generously enough that only a
    drifted workload trips it, and small enough that a relation under
    it broadcasts safely (rows x row width well under executor
    memory).

    The side derives from ``source`` in ``sf_dir``, so the count is
    memoized under ``what`` (``tables.derived``): it runs once per
    session and source stamp.  Without the memo the count job re-ran
    the side's Python shingling stage on every invocation (bench
    steady state: contamination_check 1.24 -> 4.49 s)."""
    def count() -> int:
        n = df.count()
        if n > max_rows:
            raise BroadcastBoundExceeded(
                f"{what}: broadcast side has {n:,} rows, over the declared "
                f"bound of {max_rows:,} -- the workload has outgrown the "
                "broadcast plan; use a shuffle join (or re-derive the bound "
                "if the workload is still genuinely bounded)")
        return n

    derived(df.sparkSession, sf_dir, source, what, count)
    return F.broadcast(df)
