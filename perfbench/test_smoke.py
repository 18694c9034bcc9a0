"""Smoke test of the benchmark on a sf0.001-sized input.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once through ``run.py --smoke`` and checks the output
format: the last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the metrics are exactly the ``end_to_end`` ones
of BENCHMARK.json untraced and the ``per_layer`` ones traced, each with its
unit; nothing failed. Also checks that the benchmark refuses to run, without
printing a result, when the package is missing.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, report["errors"]
    assert result["attempted"] >= 1
    assert report["failed_frac"] == {"value": 0.0, "unit": "1"}
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_every_metric_and_workload_is_mapped():
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == list(W.MOVES)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for metric, (moves, where) in W.MOVES.items():
        assert moves in e2e or not moves.endswith("_s"), metric
        assert where == "all" or set(where.split()) <= set(W.WORKLOADS), metric
