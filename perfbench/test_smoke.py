"""Smoke test of the benchmark itself, at its small sizes and a short
timed phase:

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced. Every metric named in
BENCHMARK.json must print with its unit, no operation may fail and the
DuckDB oracle check must pass. Any integer seed must make inputs.
Without the engine sources next to it, the benchmark must fail without
printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_and_outputs_check(workload, trace):
    p = bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in expected]
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("seed", [0, 2**24 - 1, 2**31 - 1, 2**63 - 1, -5])
def test_any_seed_makes_inputs(seed):
    sys.path[:0] = [str(HERE), str(ROOT)]
    import inputs

    docs = inputs.corpus_frame(seed, 0, 64)
    for cycle in (inputs.SERVE_CYCLE, inputs.INGEST_CYCLE):
        assert len(inputs.op_stream(docs, seed, cycle, 30)["ops"]) == 30


def test_fails_without_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
