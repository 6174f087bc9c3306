"""Smoke tests of the benchmark at tiny size (about a minute per run).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from selfcheck import differences, traced_run  # noqa: E402
from workloads import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("serve", "cold")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--tiny"],
                       capture_output=True, text=True, timeout=600, cwd=REPO)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs_print_every_layer_metric_and_repeat_exact_counters(
        workload):
    runs = [traced_run(workload, 5, 1.0, tiny=True) for _ in range(2)]
    for out in runs:
        assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
        assert out["metrics"]["spark.failed_tasks"]["value"] == 0
    assert differences(runs) == []


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "serve", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], capture_output=True, text=True,
                       timeout=120, cwd=tmp_path)
    assert p.returncode != 0 and p.stdout.strip() == ""
