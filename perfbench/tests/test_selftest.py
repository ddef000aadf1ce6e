"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/tests -q

Each workload runs once plain, which must emit every end-to-end metric
of BENCHMARK.json with its unit and fail nothing, and once traced with a
planted wrong expectation, which must emit every per-layer metric and
be caught as a failure.  Each run starts its own Spark session, so the
whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
TINY = ["--seconds", "4", "--tiny"]


def spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def bench(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                        *TINY, *extra], cwd=cwd, capture_output=True, text=True,
                       timeout=400)
    return p.returncode, p.stdout


def units(entries: list[dict]) -> dict[str, str]:
    return {e["name"]: e["unit"] for e in entries}


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_plain_run_is_correct_and_complete(workload):
    rc, out = bench(workload, "--trace", "0")
    assert rc == 0
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units(spec()["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_traced_run_reports_layers_and_catches_a_wrong_expectation(workload):
    rc, out = bench(workload, "--trace", "1", "--inject-fault")
    assert rc == 0
    result = json.loads(out.strip().splitlines()[-1])
    assert not result["correct"] and result["failed"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units(spec()["per_layer"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "faces",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
