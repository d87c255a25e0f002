"""Two traced runs of one head give identical deterministic counters.

Each run starts its own Spark driver, so this takes a few minutes:

    python -m pytest perfbench/tests/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)

DETERMINISTIC = (
    "catalog.jobs", "action.jobs", "action.stages", "action.tasks",
    "ext.dedup.cc_calls", "ext.dedup.artifact_jobs",
    "store.upsert_jobs", "store.files_written", "fsops.swaps",
)
# Construction jobs of the min-label loop (dedup_clusters) vary between
# identical passes at this head: a two-stage, one-task job runs zero to
# two extra times. The counters are kept, and this known variation of
# the engine is reported as an expected failure rather than hidden.
CONSTRUCTION = ("queries.build_jobs", "ext.dedup.cc_jobs")


def _workloads():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return [w["name"] for w in json.load(fh)["workloads"]]


def _traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module", params=_workloads())
def two_runs(request):
    return request.param, _traced_run(request.param), _traced_run(request.param)


def test_counters_repeat_across_traced_runs(two_runs):
    _, a, b = two_runs
    assert {k: a[k] for k in DETERMINISTIC} == {k: b[k] for k in DETERMINISTIC}


def test_construction_jobs_repeat_across_traced_runs(request, two_runs):
    workload, a, b = two_runs
    if workload == "dedup_graph":
        request.applymarker(pytest.mark.xfail(reason="dedup_clusters launches a varying number of jobs"))
    assert {k: a[k] for k in CONSTRUCTION} == {k: b[k] for k in CONSTRUCTION}
