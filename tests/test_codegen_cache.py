"""Generated code is compiled once per session.

A warm pass over the benchmark's faces compiles no class: the session's
codegen cache holds their working set, and the stateful stream faces
keep no ArrayType state (its encoder's code differs on every run).
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from perfbench.faces import FACES


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir: str) -> dict[str, int]:
    """Run each face to the noop sink, as the benchmark does; returns
    the classes each face compiled."""
    queries, compiled = entrymod.queries(), {}
    for name in FACES:
        before = _compiles(spark)
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled[name] = _compiles(spark) - before
    return compiled


def test_a_warm_pass_over_the_faces_compiles_nothing(spark, sf_dir):
    _pass(spark, sf_dir)   # compiles whatever the session has not cached
    compiled = _pass(spark, sf_dir)
    assert not any(compiled.values()), compiled
