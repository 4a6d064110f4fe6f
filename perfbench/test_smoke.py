"""Smoke self-test of the benchmark at tiny sizes (sf0.001, 2 chunks of
1,000 rows). Run from the root of a checkout:

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts the benchmark as the driver does, in a subprocess, so
it takes about half a minute per run (JVM start and warm-up).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SEED = 901  # not a seed the benchmark is tuned or proven on


def _run(workload: str, trace: int = 0, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_declared(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in declared}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_emitted_and_correct(workload):
    result = _result(_run(workload))
    _assert_declared(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", ["stream_chunks", "registry_sweep"])
def test_traced_run_emits_per_layer_metrics(workload):
    result = _result(_run(workload, 1))
    _assert_declared(result, SPEC["per_layer"])
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "stream_chunks":
        assert metrics["trace.span_coverage"] >= 0.9
        assert metrics["streaming.pipeline.batches"] == 2
        assert metrics["state.store.merge_calls"] == 6
    else:
        assert metrics["sources.tables.load_table_calls"] > 0
        assert metrics["plans.registry.build_s"] > 0


@pytest.mark.parametrize("workload", ["stream_chunks", "registry_sweep"])
def test_injected_wrong_result_raises_failed_ratio(workload):
    proc = _run(workload, 0, "--inject-wrong-result")
    result = _result(proc)
    assert not result["correct"]
    assert result["failed"] > 0
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    assert detail["ops_failed_ratio"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run("stream_chunks", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
