"""One short run of each workload at sf=0.001 must finish with 0 failed ops
and print every metric BENCHMARK.json names. Each run starts a local Spark
session (about a minute per workload on four cores)."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_is_correct_and_complete(workload):
    out = _run(workload, 0)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    out = _run("curation", 1)
    assert out["correct"] is True and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert out["metrics"]["spark.jobs"]["value"] > 0
    assert out["metrics"]["streaming.batches"]["value"] > 0
    assert out["metrics"]["plans.etl.refresh_s"]["value"] > 0
    assert out["metrics"]["plans.etl.incremental_s"]["value"] > 0
