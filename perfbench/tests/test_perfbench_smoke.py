"""Each workload, at toy size and traced, runs clean and prints every
metric BENCHMARK.json names, with its unit."""

import json
import os
import subprocess
import sys

import pytest

from run import END_TO_END, PER_LAYER, result_line

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"search", "index_write"}


@pytest.mark.parametrize("workload", ["search", "index_write"])
def test_toy_run_emits_every_metric(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    report = json.loads(lines[-2].removeprefix("perfbench-report "))
    traced = json.loads(lines[-1])
    assert traced["correct"] and traced["failed"] == 0, report["errors"]
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == PER_LAYER
    untraced = result_line(report, trace=False)
    assert {k: v["unit"] for k, v in untraced["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in untraced["metrics"].values())
    ctx = report["context"]
    for key in ("cpu_steal_pct", "loadavg_1m", "nproc", "spark_version",
                "python_version", "engine_sha256", "seed"):
        assert key in ctx
