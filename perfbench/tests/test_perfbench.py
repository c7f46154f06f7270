"""Self-tests of the benchmark at sf0.001.

Each test drives ``perfbench/run.py`` in a subprocess, as the benchmark is
meant to be run. Run with:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, run  # noqa: E402

WORKLOADS = ["vector_x10", "event_stream"]
# traced layer self-times must add up to the traced end-to-end time
SUM_BOUND = 0.05


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int, inject: str = "none", cwd: str = ROOT) -> tuple:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--inject", inject],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr[-3000:]


def test_catalogues_match_benchmark_json():
    spec = _bench_spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in layers.PER_LAYER.items()
    }
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_present_with_unit(workload, trace):
    code, result, err = _run(workload, trace)
    assert code == 0, err
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _bench_spec()["end_to_end" if trace == 0 else "per_layer"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_batch_layer_self_times_add_up():
    code, result, err = _run("vector_x10", 1)
    assert code == 0, err
    m = {k: v["value"] for k, v in result["metrics"].items()}
    parts = (m["queries.build_s"] + m["io.load_table_s"] + m["engine.job_s"]
             + m["engine.driver_gap_s"])
    assert parts == pytest.approx(m["trace.latency_mean_s"], rel=SUM_BOUND)
    assert m["engine.optimize_s"] + m["engine.planning_s"] <= m["engine.driver_gap_s"]
    assert m["streaming.batches"] == 0


def test_stream_layer_self_times_add_up():
    code, result, err = _run("event_stream", 1)
    assert code == 0, err
    m = {k: v["value"] for k, v in result["metrics"].items()}
    parts = (m["streaming.latest_offset_s"] + m["streaming.planning_s"]
             + m["streaming.add_batch_s"] + m["streaming.offset_commit_s"])
    assert parts == pytest.approx(m["streaming.batch_s"], rel=SUM_BOUND)
    assert m["streaming.batches"] > 0 and m["engine.jobs"] == 0
    assert m["operators.python_nodes"] == 0


def test_injected_wrong_result_raises_error_ratio():
    code, result, _ = _run("vector_x10", 1, "wrong-result")
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert result["metrics"]["error_ratio"]["value"] > 0


def test_stream_check_catches_dropped_event():
    code, result, _ = _run("event_stream", 0, "drop-event")
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"),
    )
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, result, _ = _run("vector_x10", 0, cwd=str(tmp_path))
    assert code != 0 and result is None
