"""sources.tables.derived: the one memo for work derived from a testdata
file.  The key is (applicationId, absolute sf_dir, the source's
st_mtime_ns), each name keeps one slot, and a new key or ``forget``
releases the old value."""

from __future__ import annotations

import os
import shutil

import pytest

from operating_system_map_reduce_spark.sources import tables


@pytest.fixture
def region_copy(sf_dir, tmp_path, monkeypatch) -> str:
    """A private sf_dir holding a copy of region.parquet, over an empty
    memo (the session's memo comes back afterwards)."""
    monkeypatch.setattr(tables, "_DERIVED", {})
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"),
                    tmp_path / "region.parquet")
    return str(tmp_path)


def _touch(path: str, ns: int) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + ns))


class TestDerived:
    def test_same_key_builds_once(self, spark, region_copy):
        builds = []

        def build():
            builds.append(1)
            return len(builds)

        for _ in range(2):
            assert tables.derived(spark, region_copy, "region.parquet",
                                  "probe", build) == 1
        assert len(builds) == 1

    def test_racing_threads_build_one_key_once(self, spark, region_copy):
        import sys
        import threading
        import time
        from concurrent.futures import ThreadPoolExecutor

        builds = []
        barrier = threading.Barrier(16)

        def build():
            builds.append(1)
            time.sleep(0.05)  # a Spark job's worth of waiting
            return object()

        def call():
            barrier.wait(timeout=30)
            return tables.derived(spark, region_copy, "region.parquet",
                                  "probe", build)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=16) as pool:
                values = [f.result(timeout=60)
                          for f in [pool.submit(call) for _ in range(16)]]
        finally:
            sys.setswitchinterval(interval)
        assert len(builds) == 1
        assert all(v is values[0] for v in values)

    def test_a_one_ns_touch_rebuilds(self, spark, region_copy):
        """An in-place regeneration within one wall-clock second still
        changes the key."""
        builds = []

        def build():
            builds.append(1)
            return len(builds)

        tables.derived(spark, region_copy, "region.parquet", "probe", build)
        _touch(os.path.join(region_copy, "region.parquet"), 1)
        assert tables.derived(spark, region_copy, "region.parquet",
                              "probe", build) == 2

    def test_a_bound_count_runs_once_per_key(self, spark, region_copy):
        from pyspark.sql import functions as F

        from operating_system_map_reduce_spark.operators.guards import (
            bounded_broadcast)

        calls = []
        small = spark.range(7).select(F.col("id").alias("k"))
        frame = type(small)
        orig = frame.count

        def counting(self):
            calls.append(1)
            return orig(self)

        frame.count = counting
        try:
            for _ in range(2):
                bounded_broadcast(small, 10, "probe side", region_copy,
                                  "region.parquet")
            assert len(calls) == 1
            _touch(os.path.join(region_copy, "region.parquet"), 1)
            bounded_broadcast(small, 10, "probe side", region_copy,
                              "region.parquet")
            assert len(calls) == 2
        finally:
            frame.count = orig

    def test_forget_releases(self, spark, region_copy):
        released = []
        tables.derived(spark, region_copy, "region.parquet", "probe",
                       lambda: "v", release=released.append)
        tables.forget("probe")
        tables.forget("probe")
        assert released == ["v"]
        assert "probe" not in tables._DERIVED

    def test_a_new_key_releases_the_token_counts_and_the_seed_root(
            self, spark, sf_dir, tmp_path, monkeypatch):
        """The two releasing slots: the CMS token counts are unpersisted
        and the novelty seed root is removed once their source changes."""
        from operating_system_map_reduce_spark.plans.curation import (
            sketch_heavy_hitters)
        from operating_system_map_reduce_spark.streaming import (
            novelty_stream as ns)

        monkeypatch.setattr(tables, "_DERIVED", {})
        copy = str(tmp_path / "sf")
        os.makedirs(copy)
        docs_path = os.path.join(copy, "documents.parquet")
        shutil.copyfile(os.path.join(sf_dir, "documents.parquet"), docs_path)
        corpus = tables.load_table(spark, copy, "documents").select(
            "doc_id", "text")

        sketch_heavy_hitters(spark, copy)
        counts = tables._DERIVED["sketch_heavy_hitters"][1]
        seed = ns._seed_index(spark, copy, corpus)
        assert counts.is_cached and os.path.isdir(seed)
        _touch(docs_path, 1)
        sketch_heavy_hitters(spark, copy)
        assert not counts.is_cached
        assert tables._DERIVED["sketch_heavy_hitters"][1] is not counts
        assert ns._seed_index(spark, copy, corpus) != seed
        assert not os.path.exists(os.path.dirname(seed))
        for name in ("sketch_heavy_hitters", "novelty seed"):
            tables.forget(name)
