"""Bucketed-table co-location: the join-shuffle elimination that makes
fact-fact joins viable at 100 TB.  Pins bucket pruning on a point
lookup, the at-rest table lifecycle and the corpus-scaled bucket count
of the postings table (the registered co-bucketed join's plan is pinned
in tests/test_plans.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from operating_system_map_reduce_spark.plans.pipeline import (
    _POSTINGS_BUCKET_CAP,
    _POSTINGS_BUCKET_FLOOR,
    _postings_bucket_count,
)
from operating_system_map_reduce_spark.sources.bucketing import write_bucketed
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
    """Layout invariant for the one-file-per-bucket write: until now only the A/B probes witnessed it,
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


class TestAtRestTables:
    def test_tables_live_in_the_process_scratch_root(self, spark, sf_dir,
                                                     tmp_path):
        """The at-rest tables are written into a database located in
        the process's scratch root: the shared warehouse is neither
        read nor written, so a directory there that looks like another
        process's stale table (here: a reaped writer's, with an older
        source mtime) is left alone."""
        import os
        import shutil
        import subprocess
        from urllib.parse import urlparse

        from operating_system_map_reduce_spark.plans.analytics import (
            bucketed_table_name)
        from operating_system_map_reduce_spark.plans.pipeline import (
            bucketed_signature)
        from operating_system_map_reduce_spark.streaming import scratch_root

        corpus = tmp_path / "corpus"
        corpus.mkdir()
        shutil.copy(os.path.join(sf_dir, "documents.parquet"), corpus)
        mt = os.stat(corpus / "documents.parquet").st_mtime_ns
        table = bucketed_table_name("b_sig", str(corpus), "documents.parquet")
        tag = "".join(c if c.isalnum() else "_" for c in str(corpus).strip("/"))
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        os.makedirs(wh, exist_ok=True)

        def b_dirs():
            return {d for d in os.listdir(wh) if d.startswith("b_")}

        proc = subprocess.Popen(["true"])
        proc.wait()
        planted = os.path.join(wh, f"b_sig_{tag}_{mt - 1}_p{proc.pid}".lower())
        os.makedirs(planted)
        before = b_dirs()
        try:
            assert bucketed_signature(spark, str(corpus)).count() > 0
            assert os.path.isdir(planted), "nothing sweeps the warehouse"
            location = next(
                r.data_type for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED {table}").collect()
                if r.col_name == "Location")
            assert urlparse(location).path.startswith(scratch_root() + "/")
            assert b_dirs() == before, "no at-rest table in the warehouse"
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(planted, ignore_errors=True)


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
