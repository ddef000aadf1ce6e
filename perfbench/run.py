"""kvmr benchmark: one workload per run, every end-to-end metric by name.

    python3 perfbench/run.py --workload kv_service --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout; the program is imported from
there.  Workloads:

- ``kv_service``: three closed-loop readers and a writer paced by the
  reads against one ``KVEngine`` preloaded with 10k 1 KiB values, KVA
  and SAV on a fixed schedule (``kv.py``);
- ``faces``: registry faces over plans, operators and sources, then
  streaming faces, whose micro-batches run inside the face's build.

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``setup_s``: session start, then preparation.  For ``kv_service``
  the preparation (preload, engine open, users, KVF, SAV) runs twice
  on fresh directories and its median counts; for ``faces`` it is
  the faces' first, checked runs, which can only happen once per
  session;
- ``op_p50_ms``: median latency of one point command (``kv_service``);
  for ``faces``, the geometric mean over the faces of each face's median
  run, so that no single face decides it;
- ``op_mean_ms``: mean latency of one point command or face run.  The
  readers' loops are closed and the faces run in whole passes, so this
  moves with throughput, rebuilds and SAV stalls included;
- ``rss_mb``: median summed RSS of this process, the JVM and the
  Python workers while the measured window runs, sampled from /proc.

``--trace 1`` runs the first half of the window untraced and the second
half traced, and prints the per-layer metrics of ``tracing.py`` instead,
with ``trace.overhead_ms``: mean operation latency traced minus
untraced.  Every reply and every face's rows are checked; a wrong
result, a non-OK code or an exception is a failed operation.

KV data, tables, event logs, checkpoints and temporary files live in a
per-run directory under ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import faces
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "operating_system_map_reduce_spark"
WORKLOADS = ("kv_service", "faces")
SETUP_REPEATS = 2
KV_WARM_READS = 300
KV_WARM_MAX_S = 8.0
FACES_WARM_PASSES = 1
KMR_REPEATS = 2

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_mean_ms": "ms", "rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the self-test: small inputs, and a planted wrong expectation
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--inject-fault", action="store_true")
    args = p.parse_args(argv)
    args.sf, args.kv_keys = (0.001, 600) if args.tiny else (0.01, 10_000)
    return args


def isolate(tmp: str) -> None:
    """Keep every file the run writes under ``tmp`` and let the Python
    workers import the program."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


def start_session(tmp: str, trace: bool):
    from operating_system_map_reduce_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def ms(xs: list[float], q: int) -> float:
    """The q-th percentile of ``xs`` (seconds), in milliseconds."""
    if len(xs) < 2:
        return xs[0] * 1e3 if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] * 1e3


# ------------------------------------------------------------- workloads

def kv_service(spark, tmp, args, tracer, phases, rss) -> dict:
    import kv

    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        svc = kv.KVService(spark, os.path.join(tmp, f"kv{i}"), args.seed, args.kv_keys)
        prep.append(time.perf_counter() - t)
    if args.inject_fault:
        svc.expected_kmr = bytes(8)

    # unmeasured: each KMR once, which starts the Python workers, then
    # a fixed number of reads
    kmr_failures = kv.Failures()
    for name in kv.KMRS:
        kv.timed(svc, name, kmr_failures)
    runs = [kv.run(svc, args.seed, 0, KV_WARM_MAX_S, [],
                   reads=KV_WARM_READS // (10 if args.tiny else 1))]
    rss.measure()
    for i, (traced, secs) in enumerate(phases, 1):
        tracer.enabled = traced
        runs.append(kv.run(svc, args.seed, i, secs, kv.MEASURE_SCHEDULE))
    # traced runs also time each KMR alone, still traced
    traced = len(phases) == 2
    kmr = {name: [kv.timed(svc, name, kmr_failures)
                  for _ in range(KMR_REPEATS if traced else 0)]
           for name in kv.KMRS}
    tracer.enabled = False
    svc.engine.shutdown()

    main = runs[-1]
    point = main["point"]
    fails = [f for r in runs for f in r["failures"].first] + kmr_failures.first
    out = {
        "detail": f"preparation {[round(x, 2) for x in prep]} s, {len(point)} point ops, "
                  f"background { {k: len(v) for k, v in main['background'].items()} }",
        "setup": statistics.median(prep),
        "attempted": sum(r["attempted"] for r in runs) + len(kv.KMRS)
                     + sum(len(v) for v in kmr.values()),
        "failed": sum(r["failures"].n for r in runs) + kmr_failures.n,
        "problems": fails,
        "op_p50_ms": ms(point, 50),
        "op_mean_ms": statistics.fmean(point) * 1e3,
    }
    if traced:
        lat = main["lat"]
        reads = lat.get("kvg", [])
        writes = [x for op in kv.WRITES for x in lat.get(op, [])]
        out["layer"] = {
            "kv.read_p50_ms": ms(reads, 50), "kv.read_p90_ms": ms(reads, 90),
            "kv.write_p50_ms": ms(writes, 50), "kv.write_p90_ms": ms(writes, 90),
            "kv.kmr_global_p50_ms": ms(kmr["cks_global"], 50),
            "kv.kmr_tree_p50_ms": ms(kmr["cks_tree"], 50),
            "trace.overhead_ms": (statistics.fmean(point)
                                  - statistics.fmean(runs[1]["point"])) * 1e3,
        }
    return out


def faces_workload(spark, tmp, args, tracer, phases, rss) -> dict:
    import gen

    names = faces.FACES
    tables = os.path.join(tmp, "tables")
    gen.generate(tables, args.seed, args.sf)
    warm, problems = faces.check(spark, tables, names, args.inject_fault)
    failures: list[str] = []
    # first runs still speed up for a pass or two; measure after them
    for _ in range(FACES_WARM_PASSES):
        faces.run(spark, tables, names, 0, tracer, failures)
    runs = []
    rss.measure()
    for traced, secs in phases:
        tracer.enabled = traced
        runs.append(faces.run(spark, tables, names, secs, tracer, failures))
    tracer.enabled = False

    lat, wall = runs[-1]
    every = [x for xs in lat.values() for x in xs]
    out = {
        "detail": f"checked warm-up {warm:.2f} s, "
                  f"{len(every) // len(names)} passes in {wall:.2f} s",
        "setup": warm,
        "attempted": len(names) * (1 + FACES_WARM_PASSES)
                     + sum(len(xs) for r in runs for xs in r[0].values()),
        "failed": len(problems) + len(failures),
        "problems": problems + failures,
        "op_p50_ms": statistics.geometric_mean(
            [statistics.median(xs) for xs in lat.values()]) * 1e3,
        "op_mean_ms": statistics.fmean(every) * 1e3,
    }
    if len(runs) == 2:
        untraced = [x for xs in runs[0][0].values() for x in xs]
        out["passes"] = len(every) // len(names)
        out["layer"] = {
            "faces.pass_s": sum(statistics.median(xs) for xs in lat.values()),
            "trace.overhead_ms": (statistics.fmean(every)
                                  - statistics.fmean(untraced)) * 1e3,
        }
    return out


RUNNERS = {"kv_service": kv_service, "faces": faces_workload}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        isolate(tmp)
        result = measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass   # another run still uses it
    print(json.dumps(result))
    return 0


def measure(args, tmp: str):
    rss = tracing.RssSampler()
    t0 = time.perf_counter()
    spark = start_session(tmp, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark.sparkContext)
    if args.trace:
        tracing.instrument(tracer)
        tracing.progress_listener(spark, tracer)
        phases = [(False, args.seconds / 2), (True, args.seconds / 2)]
    else:
        phases = [(False, args.seconds)]
    try:
        out = RUNNERS[args.workload](spark, tmp, args, tracer, phases, rss)
    finally:
        stop_session(spark)
        rss_mb = rss.stop()

    print(f"perfbench: session {session_s:.2f} s, {out['detail']}", file=sys.stderr)
    for p in out["problems"][:5]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    if args.trace:
        values = tracing.per_layer(tracer, os.path.join(tmp, "events"), out,
                                   session_s, faces.FACES)
        metrics = {k: {"value": v, "unit": tracing.PER_LAYER.get(k, "s")}
                   for k, v in values.items()}
    else:
        values = {"setup_s": session_s + out["setup"], "rss_mb": rss_mb,
                  **{k: out[k] for k in ("op_p50_ms", "op_mean_ms")}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
