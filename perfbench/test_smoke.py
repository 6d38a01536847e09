"""Smoke test for the benchmark itself, at the smallest input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs for two seconds untraced and traced. The test checks
that the output contract holds: every metric ``BENCHMARK.json`` names is
emitted with its unit, the correctness checks ran and passed, and no
step failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_emits_every_metric(workload: str, trace: int) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stamp_line, result_line = proc.stdout.strip().splitlines()[-2:]
    stamp, result = json.loads(stamp_line), json.loads(result_line)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= stamp["steps"] + len(stamp["checks"]) >= 2
    assert stamp["checks"], "no correctness check ran"
    assert stamp["host"]["before"]["nproc"] >= 1

    named = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in named}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
