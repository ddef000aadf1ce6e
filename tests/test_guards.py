"""guards.bounded_broadcast: the PYSTAGE_BROADCAST_BOUNDED allowlist's
"provably bounded" claim, enforced by the engine instead of a comment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.operators.guards import (
    BroadcastBoundExceeded, bounded_broadcast)


class TestBoundedBroadcast:
    def test_violating_side_raises_before_any_broadcast(self, spark, sf_dir):
        big = spark.range(1000).select(F.col("id").alias("k"))
        with pytest.raises(BroadcastBoundExceeded) as exc:
            bounded_broadcast(big, 10, "big test side", sf_dir, "region.parquet")
        assert "1,000" in str(exc.value) and "10" in str(exc.value)

    def test_conforming_side_is_broadcast_hinted(self, spark, sf_dir):
        small = spark.range(5).select(F.col("id").alias("k"))
        out = bounded_broadcast(small, 10, "small test side", sf_dir,
                                "region.parquet")
        probe = spark.range(100).select(F.col("id").alias("k"))
        plan = (probe.join(out, "k")
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan, plan

    def test_allowlisted_faces_carry_the_guard(self):
        """Every PYSTAGE_BROADCAST_BOUNDED entry's plan function must
        route its broadcast through bounded_broadcast -- an allowlist
        entry without the guard is comment-enforced again."""
        import inspect

        from operating_system_map_reduce_spark.plans import curation, pipeline
        from tests.test_plans import PYSTAGE_BROADCAST_BOUNDED

        fns = {"contamination_check": curation.contamination_check,
               "retrieval_rrf_fusion": pipeline.retrieval_rrf_fusion}
        assert set(PYSTAGE_BROADCAST_BOUNDED) == set(fns), \
            "allowlist changed: extend this test's fn map and guard them"
        for name, fn in fns.items():
            src = inspect.getsource(fn)
            assert "bounded_broadcast" in src, f"{name} lost its guard"

    def test_guarded_faces_still_run(self, spark, sf_dir):
        """The guards must pass at test SF (bounds are drift alarms,
        not tight limits) and the plans still broadcast the small
        side."""
        from operating_system_map_reduce_spark.plans.curation import (
            contamination_check)
        from operating_system_map_reduce_spark.plans.pipeline import (
            retrieval_rrf_fusion)

        for fn in (contamination_check, retrieval_rrf_fusion):
            plan = (fn(spark, sf_dir)
                    ._jdf.queryExecution().executedPlan().toString())
            assert "BroadcastExchange" in plan, plan
