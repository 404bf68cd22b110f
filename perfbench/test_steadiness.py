"""Steadiness self-test: two invocations on one commit and one seed agree.

Counts must repeat exactly (jobs per span, per-layer counters, recall,
merge precision, output row counts); timings must agree within the bounds
that BENCHMARK.json fixes. Each workload is its own test case and takes
about two minutes on a 4-core box:

    python3 -m pytest perfbench/test_steadiness.py -k counterparty_linkage

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from spans import COUNT_FIELDS  # noqa: E402
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 20240
EXACT = ("recall", "merge_precision")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED),
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=180, check=True).stdout.splitlines()
    result = json.loads(out[-1])
    detail = next(json.loads(line.split(" ", 1)[1]) for line in out
                  if line.startswith("perfbench-detail "))
    assert result["correct"] and result["failed"] == 0, result
    return result, detail


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_two_invocations_agree(workload):
    (a, da), (b, db) = _run(workload, 0), _run(workload, 0)
    ma, mb = a["metrics"], b["metrics"]
    for name in EXACT:
        assert ma[name]["value"] == mb[name]["value"], name
    assert da["rows_out"] == db["rows_out"]
    for m in SPEC["end_to_end"]:
        if m["name"] in EXACT:
            continue
        x, y = ma[m["name"]]["value"], mb[m["name"]]["value"]
        assert abs(y - x) <= m["bound"] * x, (m["name"], x, y)

    (ta, tda), (tb, tdb) = _run(workload, 1), _run(workload, 1)
    # every run makes at least two traced passes
    assert ({k: v[:2] for k, v in tda["jobs_per_pass"].items()}
            == {k: v[:2] for k, v in tdb["jobs_per_pass"].items()})
    for name in COUNT_FIELDS:
        assert ta["metrics"][name] == tb["metrics"][name], name
