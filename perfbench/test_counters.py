"""The benchmark's own test: at a fixed seed, two runs of a workload see
the same input (row counts and content checksums) and report the same
exact counters, and both runs pass their output checks.

Run from the root of a checkout (about two minutes per workload):

    python3 -m pytest perfbench/test_counters.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


@pytest.mark.parametrize("workload", ["audio_batch", "daily_ingest"])
def test_counters_repeat_at_fixed_seed(workload):
    (rep_a, res_a), (rep_b, res_b) = run_once(workload, 5), run_once(workload, 5)
    assert res_a["correct"] and res_b["correct"]
    assert rep_a["inputs"] == rep_b["inputs"]
    assert rep_a["counters"] and rep_a["counters"] == rep_b["counters"]
