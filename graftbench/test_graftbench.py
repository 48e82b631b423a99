"""The benchmark's own test: every workload at a tiny size, untraced and
traced.

- every printed metric is declared in BENCHMARK.json with its unit, and
  each mode prints exactly its declared set;
- the deterministic counts (``plans.construct_jobs``, ``spark.jobs``,
  ``spark.stages``, ``sources.open_jobs``,
  ``streaming.input_rows_per_request``) repeat exactly across two traced
  passes, so later changes may rest count claims on them;
- analytics-pinned is construction-bound.

Run from the checkout root: python3 -m pytest graftbench/test_graftbench.py
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("analytics-pinned", "predict-open-loop")


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@functools.cache  # one run per workload and mode; the traced run's spans stay on disk
def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "4", "--trace", str(trace), "--tiny"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    return result


def _spans(workload: str) -> dict[str, dict]:
    with open(os.path.join(CHECKOUT, ".graftbench", f"trace-{workload}.json")) as f:
        return {s["name"]: s for s in json.load(f)}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_declared_metrics(workload, trace):
    declared = _declared("per_layer" if trace else "end_to_end")
    metrics = _run(workload, trace)["metrics"]
    assert set(metrics) == set(declared)
    for name, m in metrics.items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in metrics.values()), metrics


def test_analytics_counts_repeat_and_construction_dominates():
    metrics = _run("analytics-pinned", 1)["metrics"]
    spans = _spans("analytics-pinned")
    queries = sorted({n.split(".")[2] for n in spans if n.startswith("plans.construct.")})
    assert queries
    for q in queries:
        for layer in ("plans.construct", "spark.exec"):
            first, second = spans[f"{layer}.{q}.0"], spans[f"{layer}.{q}.1"]
            for count in ("jobs", "stages"):
                assert first[count] == second[count], (layer, q, count)
    assert spans["sources.open.0"]["jobs"] == spans["sources.open.1"]["jobs"]
    construct = metrics["plans.construct_s"]["value"]
    execute = metrics["spark.exec_s"]["value"]
    assert construct / (construct + execute) >= 0.7


def test_predict_input_rows_per_request_repeat():
    metrics = _run("predict-open-loop", 1)["metrics"]
    spans = _spans("predict-open-loop")
    first, second = spans["serving.drain.0"], spans["serving.drain.1"]
    assert first["input_rows_per_request"] == second["input_rows_per_request"] > 0
    # the same plan serves both phases: rows scanned per request match
    assert (metrics["streaming.input_rows_per_request.open"]["value"]
            == metrics["streaming.input_rows_per_request.drain"]["value"])
