"""One tiny-input run of each workload through the benchmark's command, and
the refusal to run without the library beside it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, workload, trace, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("extract_job", 0), ("extract_job", 1), ("curation_cycle", 1), ("query_mix", 1)],
)
def test_tiny_run_is_correct_and_reports_every_metric(workload, trace, tmp_path):
    spans = tmp_path / "spans.json"
    proc = _run(ROOT, workload, trace, "--spans", str(spans))
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
    recorded = json.loads(spans.read_text())
    assert {"session", "workload"} <= {s["layer"] for s in recorded}
    assert all(s["end"] >= s["start"] for s in recorded)
    if trace:  # traced spans carry what the status stores recorded
        assert any(s["engine"].get("jobs", 0) > 0 for s in recorded)


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, "extract_job", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
