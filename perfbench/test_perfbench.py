"""The benchmark's own tests: every workload end to end on smoke-sized
inputs with every correctness check on, and the printed metrics against
BENCHMARK.json. Run from the repository root:

    python -m pytest perfbench -q
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

import reference  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_prints_declared_metrics(workload, trace):
    out = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--size", "smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(str(tmp_path), "--workload", "ingest_lifecycle", "--seed", "1", "--seconds", "1")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_components_take_the_smallest_id():
    comp = reference.components([1, 2, 3, 4, 5], [(4, 2), (2, 5), (1, 3)])
    assert comp == {1: 1, 2: 2, 3: 1, 4: 2, 5: 2}


def test_lsh_model_drops_a_planted_near_duplicate():
    text = " ".join(f"w{i % 17}x{i}" for i in range(60))
    near = text.replace("w5x5", "other", 1)
    m = reference.LshModel()
    m.seed([(0, text)])
    assert m.increment([(1, near), (2, "a b c d e f")]) == {1}
    assert m.ledger_rows() == [(1, 0)]
    assert m.delete([0]) == {1}
    assert m.indexed == {1, 2}
