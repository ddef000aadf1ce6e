"""The ``faces`` workload: registry faces, batch then streaming, run
round-robin over seeded tables, each built and written to the noop sink
as ``bench.py`` times them.  A streaming face runs its micro-batches
inside its build.

Set-up runs every face once, untimed by the measure, and compares its
rows against the face's DuckDB oracle with the comparison the tests use
(``tests/oracle_utils.py``).  That pass is also the warm-up: first runs
start the Python workers, generate code and fill the session's caches.
"""

from __future__ import annotations

import time

BATCH = [
    "q1_pricing_summary",                                   # TPC-H
    "order_value_deciles",                                  # driver-bound
    "kv_mix_ops",                                           # KV-surface SQL
]
STREAM = ["stream_mru_types", "stream_quota_admission"]  # stateful
FACES = BATCH + STREAM


class _Frame:
    """Hands ``oracle_utils.compare`` rows already collected, so the
    collect is timed with the face and the comparison is not."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def check(spark, tables: str, names: list[str], inject_fault: bool):
    """Run each face once against its oracle.  Returns (seconds spent in
    the faces, list of mismatch descriptions)."""
    import __spark_entry__ as entry
    from tests.oracle_utils import compare, run_oracle

    faces, oracles = entry.queries(), entry.oracle_sql()
    spent, problems = 0.0, []
    for name in names:
        expected = run_oracle(oracles[name], tables)
        if inject_fault and name == names[0]:
            expected = expected.iloc[1:]
        t = time.perf_counter()
        got = faces[name](spark, tables).toPandas()
        spent += time.perf_counter() - t
        problems += [f"{name}: {p}" for p in compare(_Frame(got), expected)]
    return spent, problems


def run_face(spark, face, tables: str, tracer, name: str) -> None:
    """Build one face and write it to the noop sink."""
    with tracer.span("plans", f"query:{name}"):
        with tracer.span("plans", f"build:{name}"):
            df = face(spark, tables)
        with tracer.span("plans", f"exec:{name}"):
            df.write.format("noop").mode("overwrite").save()


def run(spark, tables: str, names: list[str], seconds: float, tracer,
        failures: list[str]) -> tuple[dict[str, list[float]], float]:
    """Run whole passes over ``names`` until ``seconds`` have gone; a
    pass that has started is finished so every face has the same number
    of samples.  Returns per-face latencies and the wall spent."""
    import __spark_entry__ as entry

    faces = entry.queries()
    lat: dict[str, list[float]] = {n: [] for n in names}
    t0 = time.perf_counter()
    while True:
        for name in names:
            t = time.perf_counter()
            try:
                run_face(spark, faces[name], tables, tracer, name)
            except Exception as exc:   # a crashed face is a failed op
                failures.append(f"{name}: {exc!r}")
            lat[name].append(time.perf_counter() - t)
        if time.perf_counter() - t0 >= seconds:
            return lat, time.perf_counter() - t0
