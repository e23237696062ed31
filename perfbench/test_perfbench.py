"""The benchmark's own test: ``python3 -m pytest perfbench -q`` (~10 min).

Runs every workload of ``BENCHMARK.json``, and ``wiki_reexport``, on a
tiny corpus (``--smoke``), untraced and traced, and checks that each
metric named there is emitted with its unit, that the correctness gate
passes and that no run failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.tracing import parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
MEASURED = [w["name"] for w in SPEC["workloads"]]
# run by hand only: too slow to set up for the measured set (README.md)
EXTRA = ["wiki_reexport"]


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", MEASURED + EXTRA)
def test_smoke_run_emits_every_metric(workload, trace):
    out = bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        assert values["bench.failed_ratio"] == 0
        # stage walls plus the pipeline's own bookkeeping make up wall_s
        assert values["plans.pipeline.overhead_s"] >= 0
        assert values["plans.pipeline.jobs"] > 0
        assert values["plans.pipeline.resume_s"] > 0
        if workload in MEASURED:
            assert values["operators.redirects.closure_rounds"] >= 1
    else:
        assert all(v > 0 for v in values.values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n2.6 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", 2.6),
    ("total (min, med, max (stageId: taskId))\n86.5 KiB (8.5 KiB, 9.2 KiB, 15.9 KiB (stage 12.0: task 84))", 86.5 * 1024),
    ("total (min, med, max (stageId: taskId))\n226 ms (226 ms, 226 ms, 226 ms (stage 3.0: task 5))", 0.226),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
