"""Smoke test of the benchmark: every workload at toy size, untraced and
traced, prints every metric BENCHMARK.json declares with its unit and
direction, and runs its output checks. Takes a few minutes (one Spark
session per run):

    python -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402

METRIC_LINE = re.compile(r"^METRIC (\S+) = (\S+) (\S+) \((\w+)\)$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_declares_the_workloads(spec):
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)


def _run(spec, cwd, workload, trace, timeout=600):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           *spec["command"][2:], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(spec, workload, trace):
    proc = _run(spec, ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1

    declared = spec["per_layer"] if trace else spec["end_to_end"]
    printed = {}
    for line in lines:
        m = METRIC_LINE.match(line)
        if m:
            printed[m.group(1)] = (m.group(3), m.group(4))
    assert set(result["metrics"]) == {d["name"] for d in declared}
    for d in declared:
        got = result["metrics"][d["name"]]
        assert got["unit"] == d["unit"], d["name"]
        assert isinstance(got["value"], float), d["name"]
        assert printed[d["name"]] == (d["unit"], d["better"]), d["name"]

    context = json.loads(next(
        ln for ln in lines if ln.startswith("CONTEXT "))[len("CONTEXT "):])
    checks = dict(context["checks"])
    assert checks and all(checks.values()), checks
    assert any("exactly once" in name for name in checks)
    assert "agrees with oracle.cluster_documents_py" in checks
    for key in ("git_commit", "master", "nproc", "seed", "input",
                "host_steal_frac"):
        assert key in context, key


def test_refuses_to_run_without_the_engine(spec, tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(spec, str(tmp_path), sorted(WORKLOADS)[0], 0, timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
