"""Smoke test for the benchmark: every workload once per mode, at the
shortest run length, from the root of the checkout.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that the last stdout line is the result object, that it carries
exactly the metrics BENCHMARK.json declares for the mode (names and
units), that every human-readable end-to-end line is printed with a
unit, and that no operation failed (error_rate 0).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["market_batch"]


def _run(workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload, trace):
    code, lines = _run(workload, trace)
    assert code == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)
    summary = {
        ln.split()[2]: ln.split()[4] for ln in lines if ln.startswith("metric ")
    }
    assert summary["error_rate"] == "ratio"
    assert {"setup_s", "pass_s"} <= set(summary)
    assert any(k.endswith(("_p50_s", "_p50_ms")) for k in summary)
    assert float(
        next(ln.split()[3] for ln in lines if " error_rate " in ln)
    ) == 0.0
