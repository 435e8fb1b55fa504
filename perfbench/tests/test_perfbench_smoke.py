"""End-to-end smoke runs of the benchmark command at sf0.001.

Each run starts its own Spark driver (about half a minute), so these are
the benchmark's slow tests:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload, trace, cwd=ROOT, run=RUN, timeout=300):
    cmd = [sys.executable, run, "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           "--upload-rows", "400"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, proc.stdout
    return res


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_reports_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_reports_per_layer_metrics():
    proc = _run("dq_workbench", 1)
    res = _result(proc)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.unattributed_task_frac"] <= 0.05
    assert m["exec.tasks"] > 0 and m["exec.jobs"] > 0
    assert m["workbench.detect_s"] > 0 and m["rules.self_s"] > 0
    assert m["session.ingest_s"] > 0 and m["session.write_dataset_s"] > 0
    # the steps' build + action cover the pass's own wall time
    line = next(x for x in proc.stdout.splitlines() if x.startswith("# trace "))
    assert float(line.rsplit("max_step_gap_frac=", 1)[1]) <= 0.05


def test_fails_without_a_result_when_the_engine_is_missing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("dq_workbench", 0, cwd=str(tmp_path),
                run=str(tmp_path / "perfbench" / "run.py"), timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
