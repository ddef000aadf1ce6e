"""Bucketed-table co-location: the join-shuffle elimination that makes
fact-fact joins viable at 100 TB.  Asserts the *plan*, not just the
rows: co-bucketed join has no shuffle exchange; the identical join on
unbucketed data does.  Also pins the at-rest table lifecycle and the
corpus-scaled bucket count of the postings table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.plans.pipeline import (
    _POSTINGS_BUCKET_CAP,
    _POSTINGS_BUCKET_FLOOR,
    _postings_bucket_count,
)
from operating_system_map_reduce_spark.sources.bucketing import (
    bucketed_join, has_shuffle, write_bucketed)
from operating_system_map_reduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(orders.withColumnRenamed("o_custkey", "custkey"),
                   "orders_bkt", "custkey", n_buckets=8)
    write_bucketed(cust.withColumnRenamed("c_custkey", "custkey"),
                   "customer_bkt", "custkey", n_buckets=8)
    yield "orders_bkt", "customer_bkt"
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


class TestBucketedJoin:
    def test_cobucketed_join_has_no_shuffle(self, spark, bucketed_tables):
        lt, rt = bucketed_tables
        # disable broadcast so the planner must choose SMJ: the point is
        # proving the SHUFFLE is gone, not that a small dim broadcasts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketed_join(spark, lt, rt, "custkey")
            assert not has_shuffle(joined), \
                joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_unbucketed_join_does_shuffle(self, spark, sf_dir):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            orders = load_table(spark, sf_dir, "orders")
            cust = load_table(spark, sf_dir, "customer")
            joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
            assert has_shuffle(joined)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_join_rows_match_plain_join(self, spark, sf_dir, bucketed_tables):
        lt, rt = bucketed_tables
        got = bucketed_join(spark, lt, rt, "custkey").count()
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        want = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert got == want > 0

    def test_bucket_pruning_on_point_lookup(self, spark, bucketed_tables):
        """A point filter on the bucket key scans ~1/N of the files
        (bucket pruning) -- the KVG point-read story at rest."""
        lt, _ = bucketed_tables
        key = spark.table(lt).select(F.min("custkey")).first()[0]
        # autoBucketedScan drops the bucketed layout when no operator
        # needs its distribution; pruning requires the bucketed scan
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                       "false")
        try:
            plan = (spark.table(lt).filter(F.col("custkey") == key)
                    ._jdf.queryExecution().executedPlan().toString())
        finally:
            spark.conf.unset(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan


class TestOneFilePerBucketLayout:
    """Layout invariant for the round-14 one-file-per-bucket write (the
    r14 verdict's item 7): until now only the A/B probes witnessed it,
    so a future Spark version silently eliding the pre-write
    repartition could quietly restore the 32x per-(task,bucket) file
    tax with every test still green.  Assert the FILE COUNT equals the
    bucket count after write_bucketed(one_file_per_bucket=True), after
    an append+compact cycle, and that an append adds at most one file
    per bucket."""

    def _parquet_files(self, spark, table):
        import os
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        d = os.path.join(wh, table.lower())
        return sorted(
            os.path.join(r, f) for r, _, fs in os.walk(d)
            for f in fs if f.endswith(".parquet"))

    def test_write_append_compact_file_counts(self, spark, sf_dir):
        from operating_system_map_reduce_spark.sources.bucketing import (
            append_bucketed, compact_bucketed)

        n_buckets = 8
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        seed = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        t = "layout_invariant_bkt"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        try:
            write_bucketed(seed, t, "doc_id", n_buckets=n_buckets,
                           one_file_per_bucket=True)
            assert len(self._parquet_files(spark, t)) == n_buckets
            n_seed = spark.table(t).count()
            append_bucketed(delta, t, "doc_id", n_buckets=n_buckets)
            # one new file per NON-EMPTY bucket per tick, at most
            after_append = self._parquet_files(spark, t)
            assert n_buckets < len(after_append) <= 2 * n_buckets
            compact_bucketed(spark, t, "doc_id", n_buckets=n_buckets)
            assert len(self._parquet_files(spark, t)) == n_buckets
            assert spark.table(t).count() == n_seed + delta.count()
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestEnsureBucketedStaleSweep:
    def test_older_mtime_tagged_dirs_are_swept(self, spark, sf_dir, tmp_path):
        """Mtime-tagged bucketed tables (b_<name>_<tag>_<mtime>) retire
        a multi-GB warehouse directory on every in-place testdata
        regeneration; _ensure_bucketed must sweep older same-prefix
        tags when writing the new one -- and must NOT touch other
        prefixes, digit-ambiguous cousins, catalog-registered tables,
        live siblings, or (round-13 age bounds) young un-pid'd legacy
        names (a mixed-version overlap's still-running writer) --
        while a 'live' pid whose directory PREDATES the process IS
        swept (recycled pid: the process cannot be the writer; the
        dead writer's orphan would otherwise be unsweepable forever).
        Round-14 advice fix: the discriminator is process start time
        vs dir mtime, NOT idleness -- a long-lived writer's old-but-
        post-start directory is kept (the 24 h idle rule used to
        delete it mid-read)."""
        import os
        import subprocess
        import time
        from urllib.parse import urlparse

        from operating_system_map_reduce_spark.plans.analytics import (
            _SWEEP_UNPIDD_GRACE_SEC, _ensure_bucketed,
            _pid_started_after)
        from operating_system_map_reduce_spark.sources.tables import load_table

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        me = os.getpid()
        # a PID that is certainly not a live process: a subprocess that
        # already exited and was reaped (no os.fork() under a live
        # JVM/py4j connection -- r12 advice)
        proc = subprocess.Popen(["true"])
        proc.wait()
        dead = proc.pid
        # the live sibling is this pytest process's PARENT -- guaranteed
        # alive for the test's duration without hard-coding PID 1
        # (absent in rootless / PID-namespaced CI)
        live = os.getppid()
        old = time.time() - _SWEEP_UNPIDD_GRACE_SEC - 60
        # recycled-pid probe: a dir whose mtime PREDATES the live
        # process's start -- find a pre-start instant by bisecting with
        # the discriminator itself is overkill; one hour before this
        # test process launched is necessarily before its (recent)
        # parent too when the suite runs under a fresh shell, but to
        # stay exact we probe: skip the recycled subcase if the parent
        # somehow predates it (e.g. pytest under a week-old daemon).
        pre_start = time.time() - 3600.0
        parent_is_newer = _pid_started_after(live, pre_start)
        stale = os.path.join(wh, "b_sweepprobe_x_1000")  # legacy, OLD
        fresh_unpidd = os.path.join(wh, "b_sweepprobe_x_1001")  # legacy, young
        stale_dead = os.path.join(wh, f"b_sweepprobe_x_1000_p{dead}")
        stale_mine = os.path.join(wh, f"b_sweepprobe_x_1000_p{me}")
        live_sibling = os.path.join(wh, f"b_sweepprobe_x_1000_p{live}")
        recycled = os.path.join(wh, f"b_sweepprobe_x_1002_p{live}")  # pre-start
        cousin = os.path.join(wh, "b_sweepprobe_x_1000_extra")
        other = os.path.join(wh, "b_sweepother_x_1000")
        for d in (stale, fresh_unpidd, stale_dead, stale_mine, live_sibling,
                  recycled, cousin, other):
            os.makedirs(d, exist_ok=True)
        os.utime(stale, (old, old))
        os.utime(recycled, (pre_start, pre_start))
        table = f"b_sweepprobe_x_2000_p{me}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        df = load_table(spark, sf_dir, "region").select("r_regionkey")
        try:
            _ensure_bucketed(spark, table, df, "r_regionkey")
            assert not os.path.isdir(stale), "aged legacy un-pid'd tag swept"
            assert os.path.isdir(fresh_unpidd), \
                "young un-pid'd tag kept (grace for a pre-PID-scheme writer)"
            assert not os.path.isdir(stale_dead), "dead writer's tag swept"
            assert not os.path.isdir(stale_mine), "own older tag swept"
            assert os.path.isdir(live_sibling), \
                "a LIVE sibling's post-start directory must never be touched"
            if parent_is_newer is True:
                assert not os.path.isdir(recycled), \
                    "a live pid whose process started AFTER the dir was " \
                    "written cannot be its writer (recycled pid) -- swept"
            else:
                # parent predates the probe mtime (or /proc unreadable):
                # the sweep must stay conservative and keep it
                assert os.path.isdir(recycled)
            assert os.path.isdir(cousin), "non-pure-digit suffix kept"
            assert os.path.isdir(other), "other prefixes kept"
            assert spark.catalog.tableExists(table)
        finally:
            import shutil
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            for d in (fresh_unpidd, live_sibling, recycled, cousin, other):
                shutil.rmtree(d, ignore_errors=True)

    def test_at_rest_table_degrades_when_warehouse_unwritable(
            self, spark, sf_dir, monkeypatch):
        """A read-only warehouse must not turn the at-rest faces into
        write errors (round-14 advice): the first failed write flags
        the warehouse and returns the build() plan (identical rows);
        later calls skip the doomed write job entirely."""
        import pytest as _pytest

        from operating_system_map_reduce_spark.plans import analytics
        from operating_system_map_reduce_spark.sources.tables import load_table

        calls = {"n": 0}

        def boom(*a, **k):
            calls["n"] += 1
            raise OSError(30, "Read-only file system")

        monkeypatch.setattr(analytics, "_ensure_bucketed", boom)
        monkeypatch.setattr(analytics, "_RO_WAREHOUSES", set())

        def build():
            return load_table(spark, sf_dir, "region").select("r_regionkey")

        with _pytest.warns(RuntimeWarning, match="degrading"):
            df = analytics.at_rest_table(
                spark, sf_dir, "b_degradeprobe", "r_regionkey", build,
                source="region.parquet")
        assert df.count() == build().count()
        df2 = analytics.at_rest_table(
            spark, sf_dir, "b_degradeprobe", "r_regionkey", build,
            source="region.parquet")
        assert df2.count() == build().count()
        assert calls["n"] == 1, "flagged warehouse must skip the write"

    def test_pid_started_after_discriminator(self):
        """The recycled-pid discriminator itself: this very process
        started after any sufficiently-old instant and before any
        future instant; an unreadable pid yields None (conservative:
        presumed writer, never swept)."""
        import os
        import time

        from operating_system_map_reduce_spark.plans.analytics import (
            _pid_started_after)

        me = os.getpid()
        # 10 years ago: certainly before this process started
        assert _pid_started_after(me, time.time() - 315e6) is True
        # the future: no process starts after it
        assert _pid_started_after(me, time.time() + 3600) is False
        # a reaped pid has no /proc entry -> None, not an exception
        import subprocess
        proc = subprocess.Popen(["true"])
        proc.wait()
        assert _pid_started_after(proc.pid, time.time()) in (None, False)


# --- corpus-scaled bucket count for the at-rest postings table -------------
# A bucketed join's parallelism IS the bucket count, so b_post sizes its
# count to the corpus at write time (pure filesystem, no Spark): the
# three measured corpus classes land on the probed cells (test SFs ->
# 32, the sf10 replica corpus -> 32, the sf100 replica corpus -> 256);
# growth is power-of-two and capped; a directory corpus sums its
# parquet parts.

def _corpus(tmp_path, name: str, nbytes: int, as_dir: bool = False) -> str:
    """An sf_dir whose documents.parquet has the given APPARENT size
    (sparse truncate -- the policy reads sizes, never bytes)."""
    sf_dir = tmp_path / name
    sf_dir.mkdir()
    target = sf_dir / "documents.parquet"
    if as_dir:
        target.mkdir()
        half = nbytes // 2
        for i, sz in enumerate((half, nbytes - half)):
            part = target / f"part-{i:05d}.snappy.parquet"
            with open(part, "wb") as fh:
                fh.truncate(sz)
        # non-parquet siblings (_SUCCESS, .crc) must not count
        (target / "_SUCCESS").write_bytes(b"")
    else:
        with open(target, "wb") as fh:
            fh.truncate(nbytes)
    return str(sf_dir)


class TestPostingsBucketCount:
    def test_measured_corpus_classes(self, tmp_path):
        # the probe matrix's three corpus classes (bytes as measured):
        # sf0.1 = 0.59 MB, sf10 replicas = 77 MB, sf100 replicas = 810 MB
        assert _postings_bucket_count(
            _corpus(tmp_path, "sf01", 594_568)) == 32
        assert _postings_bucket_count(
            _corpus(tmp_path, "sf10", 77_349_197)) == 32
        assert _postings_bucket_count(
            _corpus(tmp_path, "sf100", 809_740_107)) == 256

    def test_growth_is_pow2_monotone_and_capped(self, tmp_path):
        sizes = [1, 10 << 20, 200 << 20, 810 << 20, 8 << 30, 1 << 40]
        counts = [
            _postings_bucket_count(_corpus(tmp_path, f"c{i}", sz))
            for i, sz in enumerate(sizes)
        ]
        assert counts == sorted(counts), counts
        assert all(c & (c - 1) == 0 for c in counts), counts  # pow2
        assert counts[0] == _POSTINGS_BUCKET_FLOOR
        assert counts[-1] == _POSTINGS_BUCKET_CAP
        assert all(_POSTINGS_BUCKET_FLOOR <= c <= _POSTINGS_BUCKET_CAP
                   for c in counts), counts

    def test_directory_corpus_sums_parquet_parts_only(self, tmp_path):
        one = _corpus(tmp_path, "filecorpus", 809_740_107)
        parts = _corpus(tmp_path, "dircorpus", 809_740_107, as_dir=True)
        assert (_postings_bucket_count(parts)
                == _postings_bucket_count(one) == 256)
