#!/usr/bin/env python
"""Fourth-decade (and general per-SF) protocol runner for the graph
tier: pagerank_neardup + dedup_graph_triangles measured in ONE fresh
JVM that pays the shared at-rest builds (b_post -> b_edge) exactly
once -- the standing-table design point (both faces query the same
materialized near-dup graph), so a per-face subprocess would bill the
same multi-minute cold build twice for no extra information.

Protocol (the decade method recorded in SCALING.md): fresh JVM per
session, one untimed cold per face (the FIRST face's cold carries the
b_post + b_edge builds; the second face's cold is its own codegen/plan
warm-up over the already-standing tables -- reported separately so
both are visible), then median-of-3 with cache/GC hygiene between
runs.  Run TWO sessions per the never-one-pair rule.

Usage:
    python scripts/graph_decade.py <sf_dir>            # one session
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1]
    from bench import _clear_stat_caches
    from operating_system_map_reduce_spark.plans import mining
    from operating_system_map_reduce_spark.session import get_spark

    mem = os.environ.get("SPARK_GRAFT_BENCH_MEM", "24g")
    spark = get_spark(app_name="graph-decade",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": mem})
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    for name, fn in (("pagerank_neardup", mining.pagerank_neardup),
                     ("dedup_graph_triangles", mining.dedup_graph_triangles)):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 3)
        runs = []
        for _ in range(3):
            gc.collect()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            _clear_stat_caches()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"cold": cold, "median": sorted(runs)[1], "runs": runs}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print("MEASURE " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
