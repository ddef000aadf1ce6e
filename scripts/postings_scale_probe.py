"""Measure the REGISTERED postings consumers at a decade corpus under
the corpus-scaled bucket policy (round 14: _postings_bucket_count).

One fresh JVM: the untimed cold pays the standing b_post build at
whatever bucket count the policy picks for the corpus, then each named
face gets noop-sink timed runs with the stat-cache honesty rule
(bench._clear_stat_caches) between runs -- the registered faces
end-to-end at the bucket count the shipped policy picks, no
monkeypatching.

Usage:
    python scripts/postings_scale_probe.py SF_DIR MEM face:runs [face:runs ...]
e.g.
    python scripts/postings_scale_probe.py /tmp/spark-graft-sf100 24g \
        dedup_ngram_jaccard:3 dedup_jaccard_ppjoin:1
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir, mem = sys.argv[1], sys.argv[2]
    faces = [(a.split(":")[0], int(a.split(":")[1])) for a in sys.argv[3:]]

    from bench import _clear_stat_caches
    from operating_system_map_reduce_spark.plans import (collect_registry,
                                                        pipeline)
    from operating_system_map_reduce_spark.session import get_spark

    queries, _ = collect_registry()
    n_buckets = pipeline._postings_bucket_count(sf_dir)
    spark = get_spark(app_name=f"postings-scale-{os.path.basename(sf_dir)}",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": mem})
    spark.sparkContext.setLogLevel("ERROR")
    out = {"sf_dir": sf_dir, "mem": mem, "policy_buckets": n_buckets,
           "faces": {}}
    for i, (face, n_runs) in enumerate(faces):
        fn = queries[face]
        spark.sparkContext.setJobDescription(f"{face}: untimed cold")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.perf_counter() - t0, 3)
        runs = []
        for r in range(n_runs):
            gc.collect()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            _clear_stat_caches()
            spark.sparkContext.setJobDescription(f"{face}: timed {r}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        # statistics.median (round-15 advice fix): the old
        # sorted(runs)[n//2] read the upper-middle element for even
        # run counts, and an empty runs list (face:0) crashed
        import statistics
        out["faces"][face] = {
            "cold": cold, "runs": runs,
            "median": round(statistics.median(runs), 3) if runs else None,
            "loadavg": round(os.getloadavg()[0], 1)}
        print("PARTIAL " + json.dumps(out["faces"][face] | {"face": face}),
              flush=True)
    print("MEASURE " + json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
