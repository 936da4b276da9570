"""Smoke tests of the benchmark runner: every workload at tiny size,
traced and untraced, with all checks on; the seed checks; and the
metric names against BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import layer_units  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def run(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, *args], cwd=cwd, timeout=timeout,
                          capture_output=True, text=True)


def test_benchmark_json_names_the_runner_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == layer_units()
    assert set(END_TO_END) == {"setup_s", "op_s_p50", "ops_per_min",
                               "pages_per_s"}
    assert {w["name"] for w in SPEC["workloads"]} == {"classify",
                                                      "sketch_queries"}


@pytest.mark.parametrize("workload", ["classify", "build", "sketch_queries"])
def test_inputs_are_a_function_of_the_seed(workload, tmp_path):
    def digests(seed, name):
        out = run(os.path.join(HERE, "inputs.py"), "--workload", workload,
                  "--seed", str(seed), "--dir", str(tmp_path / name),
                  "--smoke")
        assert out.returncode == 0, out.stderr
        return out.stdout

    first = digests(1, "a")
    assert first and digests(1, "b") == first  # two processes, one seed
    assert digests(2, "c") != first


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["classify", "build", "sketch_queries"])
def test_smoke_run(workload, trace):
    out = run(os.path.join("perfbench", "run.py"), "--workload", workload,
              "--seed", "2", "--seconds", "1", "--trace", str(trace),
              "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout
    want = dict(END_TO_END) if trace == 0 else layer_units()
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name in want:  # every metric is also printed by name with unit
        assert any(line.startswith(f"{name} ") and line.endswith(want[name])
                   for line in out.stdout.splitlines()), name
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".bench_work"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = run(os.path.join("perfbench", "run.py"), "--workload", "classify",
              "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path,
              timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
