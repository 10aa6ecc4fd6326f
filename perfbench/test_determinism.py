"""Two traced runs of one seed must report identical deterministic counters.

Run from the repository root (about two minutes per workload):

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.tracing import DETERMINISTIC_COUNTERS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"], out
    return result["metrics"]


@pytest.mark.parametrize("workload", ["analytics", "routing", "curation"])
def test_counters_repeat_for_one_seed(workload):
    first, second = traced_run(workload, 3), traced_run(workload, 3)
    for name in DETERMINISTIC_COUNTERS:
        assert first[name]["value"] == second[name]["value"], name
