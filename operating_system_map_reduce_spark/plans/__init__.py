"""Query library exposed through __spark_entry__.

Each sub-module exports:
    QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]
    ORACLES: dict[str, str]        -- ANSI SQL for DuckDB parity checks

Column names are aliased identically on both sides: the driver's
correctness compare sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def collect_registry() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    from operating_system_map_reduce_spark.plans import (
        analytics, curation, kvqueries, mining, pipeline, streamqueries, textprep,
    )
    from operating_system_map_reduce_spark.plans import window as _win

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in (analytics, kvqueries, pipeline, curation, streamqueries, textprep,
                mining):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)

    # The correctness gate checks the FIRST 50 entries in insertion
    # order.  plans/window.py computes that window from the committed
    # CORRECTNESS_r*.json ledger plus its REDEFINED rule-2 declaration:
    # never-green entries lead, entries whose plan or oracle changed
    # since their newest green row re-enter (set the query's round in
    # window.REDEFINED in the SAME commit as the plan change), and the
    # remaining seats refresh oldest-newest-row-first.  No entry's
    # newest green row may sit more than two rounds behind HEAD at
    # judge time, which pigeonhole allows only up to 150 registered
    # queries -- build_window raises past that, so a new face must
    # replace an old one.  tests/test_plans.py::TestRegistryWindow pins
    # mechanism compliance and the ceiling.  Entries outside the window
    # stay covered by tests/test_oracle_parity.py (ALL entries vs the
    # DuckDB oracle).
    window = _win.build_window(list(queries), _win.load_ledger())
    assert len(window) == min(len(queries), _win.WINDOW_SIZE)
    ordered = {n: queries[n] for n in window}
    ordered.update({n: queries[n] for n in queries if n not in ordered})
    return ordered, oracles

