"""The benchmark's own check that its host-independent counts repeat.

Two traced runs of the same workload and seed must report identical job,
stage, transferred-row and micro-batch counts; the operators workload
must also reproduce the per-query job counts of k-means (18) and k-hop
BFS (21). Each case starts two engine processes (about a minute)::

    python3 -m pytest perfbench/test_counts.py -q
    python3 -m pytest perfbench/test_counts.py -q -k operators
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
from perfbench.workloads import WORKLOADS  # noqa: E402

REPEATING = ("spark.jobs", "spark.stages", "transfer.rows", "streaming.batches")
EXPECTED_JOBS = {"spark.jobs.q_kmeans": 18, "spark.jobs.q_khop_reach": 21}


def traced_run(workload: str, seed: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat(workload):
    first, second = traced_run(workload, 7), traced_run(workload, 7)
    for key in REPEATING:
        assert first[key] == second[key], (key, first[key], second[key])
    assert first["spark.jobs"] > 0
    if workload == "operators":
        for key, jobs in EXPECTED_JOBS.items():
            assert first[key] == jobs, (key, first[key])
