"""Fast self-test of the benchmark: every workload once at sf0.001, untraced
and traced, plus the refusal to run without the repository.

Run from the repository root: ``python3 -m pytest perfbench/ -q`` (~4 min).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BENCHMARK = json.loads((REPO / "BENCHMARK.json").read_text())
sys.path.insert(0, str(REPO))


def _small_dir() -> str:
    import bench

    return os.path.join(os.path.dirname(bench.SF_DIR), "sf0.001")


def _run(workload: str, trace: int, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": _small_dir()})
    assert out.returncode == 0, out.stderr[-4000:]
    record, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(record), json.loads(result)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    # the traced runs use a derived seed, the untraced ones the shipped files
    record, result = _run(workload, trace, seed=trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    assert result["correct"], record["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert record["workload_metrics"]["fail_ratio"] == 0
    assert record["leaked_persists"] == 0
    if trace:
        # at least 90% of a pass is inside timed Spark calls, and the
        # tracer's own bookkeeping is measured
        assert result["metrics"]["trace.attributed_ratio"]["value"] >= 0.9
        assert result["metrics"]["trace.overhead_s"]["value"] > 0
        spans = {s["id"]: s for s in record["spans"]}
        assert spans
        for s in spans.values():
            assert s["self_s"] >= 0, s
            parent = spans.get(s["parent"])
            if parent is not None:
                # status-store job times are whole milliseconds
                assert parent["start"] - 1e-3 <= s["start"] <= s["end"], s
                assert s["end"] <= parent["end"] + 1e-3, s


def test_refuses_without_the_repository(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, *BENCHMARK["command"][1:], "--workload",
         BENCHMARK["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
