"""Self-test of the crawl benchmark at toy size.

    python3 -m pytest perfbench/tests -q

Each case starts ``perfbench/run.py`` in its own process (its own JVM), as
the benchmark is meant to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from spans import PER_LAYER  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload, *extra, cwd=ROOT, trace=0):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "toy", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(proc, expected: list[tuple[str, str]]) -> None:
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {n: m["unit"] for n, m in res["metrics"].items()} == dict(expected)
    printed = proc.stdout.splitlines()[:-1]
    for name, unit in expected:
        assert any(line.startswith(f"{name} ") and f" {unit}" in line
                   for line in printed), name


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_toy_passes_its_checks(workload):
    proc = _run(workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    _assert_metrics(proc, [(m["name"], m["unit"]) for m in BENCH["end_to_end"]])


def test_traced_run_reports_every_layer_metric():
    proc = _run("frontier_steady", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    _assert_metrics(proc, [(m["name"], m["unit"]) for m in BENCH["per_layer"]])
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == PER_LAYER
    metrics = _result(proc)["metrics"]
    assert metrics["spark.jobs"]["value"] > 0
    assert metrics["frontier.push_rows"]["value"] > 0


def test_corrupted_oracle_fails():
    proc = _run("crawl_polite", "--corrupt-oracle")
    assert proc.returncode != 0
    res = _result(proc)
    assert res["correct"] is False and res["failed"] >= 1


def test_without_the_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("crawl_polite", cwd=tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
