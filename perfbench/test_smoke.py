"""Smoke test of the benchmark itself: one short run of every workload.

    python3 -m pytest perfbench/test_smoke.py -q

Each run boots its own session and takes about a minute (medallion
about three). The test checks that every named metric prints with its
unit, that the per-layer self times of a traced run add up to its
``run_s``, and that a deliberately wrong expected output is counted as
a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import MIN_BATCHES  # noqa: E402


def _run(workload: str, *extra: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", *extra],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _assert_shape(result: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert 0 <= result["failed"] <= result["attempted"]


def _assert_units(result: dict, expected: dict[str, str], names) -> None:
    for name in names:
        assert result["metrics"][name]["unit"] == expected[name], name
        assert isinstance(result["metrics"][name]["value"], float), name


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_relational_counts_a_wrong_expected_output():
    result, out = _run("relational", "--trace", "0", "--wrong-expected")
    _assert_shape(result)
    _assert_units(result, END_TO_END, END_TO_END)
    assert result["failed"] >= 1 and result["correct"] is False
    assert "check failed:" in out
    ratio = next(line for line in out.splitlines() if " failed_ratio " in line)
    assert float(ratio.split()[1]) > 0
    assert " op_p50_s " in out


def test_curation_traced_self_times_account_for_run_s():
    result, out = _run("curation", "--trace", "1")
    _assert_shape(result)
    _assert_units(result, PER_LAYER, PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = m["operators.build_s"] + m["spark.exec_s"] + m["harness.self_s"]
    assert layers == pytest.approx(m["trace.run_s"], rel=1e-6)
    assert m["spark.tasks"] > 0 and m["spark.jobs"] > 0
    assert "tracing overhead:" in out


def test_streaming_traced_self_times_account_for_run_s():
    result, out = _run("streaming", "--trace", "1")
    _assert_shape(result)
    _assert_units(result, PER_LAYER, PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = (m["operators.build_s"] + m["spark.exec_s"]
              + m["streaming.self_s"] + m["harness.self_s"])
    assert layers == pytest.approx(m["trace.run_s"], rel=1e-6)
    assert m["streaming.microbatches"] >= sum(MIN_BATCHES.values())
    assert m["streaming.q_stream_session_evict_s"] > 0
    assert "\n   op_p50_s " not in out  # no such figure in the report


def test_medallion_reports_the_pipeline():
    result, out = _run("medallion", "--trace", "0")
    _assert_shape(result)
    _assert_units(result, END_TO_END, END_TO_END)
    assert " failed_ratio " in out
    assert "pipeline.rows_gold" in out
