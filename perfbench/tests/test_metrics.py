"""Every metric the command prints is declared in BENCHMARK.json, and every
declared metric is printed, in both modes.

The fast tests build the metric tables from empty measurements; the slow
one runs the command itself (set PERFBENCH_RUN=1, about four minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import workloads as W
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _declared(section: str) -> set[str]:
    return {m["name"] for m in _spec()[section]}


def _empty_run(tmp_path):
    for table in ("chunks", "documents"):
        os.makedirs(tmp_path / table)
    bench = SimpleNamespace(
        ops=[], tracer=Tracer(), eventlog=None, get_spark_s=1.0, layer={k: 0.0 for k in W.KERNEL_METRICS}
    )
    out = W.Outcome(setup_s=1.0, store=str(tmp_path), input_bytes=1, docs=[], drop="")
    return bench, out


def test_end_to_end_names(tmp_path):
    bench, out = _empty_run(tmp_path)
    assert set(W.end_to_end(bench, out, 1.0)) == _declared("end_to_end")


def test_per_layer_names(tmp_path):
    bench, out = _empty_run(tmp_path)
    assert set(W.traced_layers(bench, out)) == _declared("per_layer")


def test_workloads_declared():
    assert {w["name"] for w in _spec()["workloads"]} == set(W.WORKLOADS)


@pytest.mark.skipif(os.environ.get("PERFBENCH_RUN") != "1", reason="runs Spark; set PERFBENCH_RUN=1")
@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_declared_metrics(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert set(result["metrics"]) == declared
    printed = {line.split()[0] for line in lines[:-1] if not line.startswith("#")}
    assert printed == declared
