"""Toy-size smoke test of the benchmark: every workload, untraced and
traced, emits every metric ``BENCHMARK.json`` names with its unit, and
runs its correctness checks. Runs six short Spark sessions (~6 min):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["interactive", "bigshard", "ingest"])
def test_workload_emits_every_metric(workload, trace):
    p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--size", "toy")
    assert p.returncode == 0, p.stderr[-4000:]
    *_, report_line, last_line = p.stdout.strip().splitlines()
    report, last = json.loads(report_line)["report"], json.loads(last_line)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1
    assert report["checked"] > 0  # outputs were compared to a reference
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_refuses_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the
    command fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(tmp_path, "--workload", "interactive", "--seed", "1",
            "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
