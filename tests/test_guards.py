"""guards.bounded_broadcast: the PYSTAGE_BROADCAST_BOUNDED allowlist's
"provably bounded" claim, enforced by the engine instead of a comment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.operators.guards import (
    BroadcastBoundExceeded, bounded_broadcast)


class TestBoundedBroadcast:
    def test_violating_side_raises_before_any_broadcast(self, spark):
        big = spark.range(1000).select(F.col("id").alias("k"))
        with pytest.raises(BroadcastBoundExceeded) as exc:
            bounded_broadcast(big, 10, "test side")
        assert "1,000" in str(exc.value) and "10" in str(exc.value)

    def test_conforming_side_is_broadcast_hinted(self, spark):
        small = spark.range(5).select(F.col("id").alias("k"))
        out = bounded_broadcast(small, 10, "test side")
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

    def test_memo_verifies_once_per_key(self, spark):
        from operating_system_map_reduce_spark.operators import guards

        calls = []
        small = spark.range(7).select(F.col("id").alias("k"))
        orig = type(small).count

        def counting(self):
            calls.append(1)
            return orig(self)

        type(small).count = counting
        try:
            bounded_broadcast(small, 10, "memo probe", memo_key=("s", 1))
            bounded_broadcast(small, 10, "memo probe", memo_key=("s", 1))
            assert len(calls) == 1          # second call skipped the job
            bounded_broadcast(small, 10, "memo probe", memo_key=("s", 2))
            assert len(calls) == 2          # new key re-verifies
        finally:
            type(small).count = orig
            guards._VERIFIED.clear()

    def test_memo_reverifies_on_changed_key(self, spark, sf_dir, tmp_path):
        """The memo contract: the memo does not watch its
        input -- callers fold a change detector into the key.  The
        registered callers key on st_mtime_ns of the source parquet,
        so replacing the file IN PLACE changes the key and forces a
        fresh count: simulated here by touching a copy's mtime and
        rebuilding the caller-style key."""
        import os
        import shutil

        from operating_system_map_reduce_spark.operators import guards

        src = os.path.join(sf_dir, "region.parquet")
        probe = str(tmp_path / "region.parquet")
        shutil.copyfile(src, probe)

        def caller_key():
            return (spark.sparkContext.applicationId, str(tmp_path),
                    os.stat(probe).st_mtime_ns)

        calls = []
        small = spark.range(3).select(F.col("id").alias("k"))
        orig = type(small).count

        def counting(self):
            calls.append(1)
            return orig(self)

        type(small).count = counting
        try:
            k1 = caller_key()
            bounded_broadcast(small, 10, "mtime probe", memo_key=k1)
            bounded_broadcast(small, 10, "mtime probe", memo_key=caller_key())
            assert len(calls) == 1, "same mtime must reuse the memo"
            st = os.stat(probe)
            os.utime(probe, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
            k2 = caller_key()
            assert k2 != k1, "st_mtime_ns must see a sub-second touch"
            bounded_broadcast(small, 10, "mtime probe", memo_key=k2)
            assert len(calls) == 2, \
                "an in-place replacement (new mtime_ns) must re-verify"
        finally:
            type(small).count = orig
            guards._VERIFIED.clear()
