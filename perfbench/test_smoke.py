"""Smoke test of the benchmark on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark JVM, so this takes a few minutes.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys

import pytest

import run

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_metric_lists():
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in SPEC["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        tuple(m) for m in run.PER_LAYER
    ]
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.SPANS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(run.ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rollup_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize(
    "workload, trace",
    [("rollup_batch", True), ("ingest_serve", True)],
)
def test_tiny_run_is_correct_and_complete(workload, trace):
    result = run.run(workload, seed=5, seconds=0.1, trace=trace, scale=0.05)
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    names = [m[0] for m in (run.PER_LAYER if trace else run.END_TO_END)]
    assert list(result["metrics"]) == names
    for name, m in result["metrics"].items():
        assert math.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, name
    if trace:  # the layers of the workload itself were attributed work
        for span in run.SPANS[workload]:
            assert result["metrics"][f"{span}.jobs"]["value"] > 0, span


def test_window_ends_cleanly_when_the_input_is_used_up(monkeypatch):
    # a few batches of 150 turns after the preload: the warm-up takes
    # one, and a window of many cycles' length uses up the rest
    monkeypatch.syspath_prepend(str(run.ROOT))  # workloads imports the program
    import workloads

    monkeypatch.setattr(workloads.IngestServe, "BATCH_TURNS", 3_000)
    result = run.run("ingest_serve", seed=5, seconds=600, trace=False, scale=0.05)
    assert result["correct"], result
    assert result["failed"] == 0
    assert [m[0] for m in run.END_TO_END] == list(result["metrics"])
