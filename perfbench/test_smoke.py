"""Smoke test of the benchmark harness at tiny sizes.

Run from the repository root: ``python3 -m pytest perfbench/test_smoke.py``.
Each case starts one Spark session (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    out = subprocess.run(
        [sys.executable, RUN, "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return out.returncode, out.stdout


def result(stdout: str) -> dict:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    return res


def assert_metrics(res: dict, kind: str) -> None:
    wanted = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == wanted
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


# batch_mega_loop is runnable but not in BENCHMARK.json (see README.md)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["batch_mega_loop"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    rc, out = bench("--workload", workload, "--tiny", "--trace", "0")
    res = result(out)
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 1
    assert_metrics(res, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_printed_with_units(workload):
    rc, out = bench("--workload", workload, "--tiny", "--trace", "1")
    res = result(out)
    assert rc == 0 and res["correct"]
    assert_metrics(res, "per_layer")


def test_wrong_expected_count_fails_the_run():
    rc, out = bench(
        "--workload", "batch_star_20k", "--tiny", "--trace", "0",
        "--expect", "verified_pairs=1",
    )
    res = result(out)
    assert rc != 0
    assert not res["correct"] and res["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    rc, out = bench("--workload", "batch_star_20k", "--tiny", cwd=str(tmp_path))
    assert rc != 0
    assert not out.strip()
