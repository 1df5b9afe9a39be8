"""Self-tests of the benchmark at a tiny input size (scale 0.01, about
sf0.001). Each test runs the benchmark end to end, Spark included:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int = 0, fault: str = "none") -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.01",
         "--fault", fault],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_its_unit(workload, trace, kind):
    out, err = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    declared = _declared(kind)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    table = err[err.rindex("== perfbench"):]
    for name, unit in declared.items():
        assert any(line.split()[:1] == [name] and line.rstrip().endswith(unit)
                   for line in table.splitlines()), name
    assert "error_rate (failed/attempted)" in table


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("fault", ["frame", "value"])
def test_fault_raises_error_rate(workload, fault):
    """A frame with one flipped byte, or a decoded value that differs
    from its source, must count as a failed operation."""
    out, _err = _run(workload, 0, fault)
    assert out["failed"] > 0 and not out["correct"]


def test_declared_per_layer_metrics_match_the_code():
    assert _declared("per_layer") == {n: u for n, u, _ in layers.PER_LAYER}


def test_spark_metrics_count_only_loop_tasks(tmp_path):
    def task(stage, launch, finish, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 0,
                                 "JVM GC Time": 0, "Result Size": 10}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "warm"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "loop"}},
        task(0, 0, 999, 999),
        task(1, 0, 10, 10), task(1, 0, 20, 20), task(2, 0, 60, 60),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    m = layers.spark_metrics(str(tmp_path), "local-1", iterations=2)
    assert m["spark.tasks"] == 1.5
    assert m["spark.task_ms_p50"] == 20 and m["spark.task_ms_max"] == 60
    assert m["spark.task_skew"] == 3.0
    assert m["spark.executor_run_s"] == pytest.approx(0.045)
    assert m["spark.result_bytes"] == 15
