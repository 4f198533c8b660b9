"""Determinism self-test of the benchmark's counters.

Two traced runs with the same seed execute the same operations, so the
counters that do not depend on timing must repeat for every traced
operation: Spark jobs, stages and tasks and shuffle records from the status
store, and the py4j method calls the operator compiler makes.

Shuffle bytes are compressed block sizes, so they also depend on the order
of rows inside each block, which Spark does not fix. Between same-seed runs
they differed for the path-doubling closure (by 0.03% and 0.8%) and for
q12 (0.5%), while the shuffle records of every operation repeated. The test
therefore holds records exact and bytes to within 2%.

    python3 -m pytest perfbench/test_determinism.py

Each case starts two benchmark processes (about two minutes per workload on
a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_records",
    "shuffle_write_records",
    "py4j_calls",
)
BYTES = ("shuffle_read_bytes", "shuffle_write_bytes")


def traced_run(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0, p.stdout
    path = p.stdout.split(" record ", 1)[1].split("\n", 1)[0].strip()
    with open(os.path.join(ROOT, path)) as f:
        return json.load(f)


def traced_ops(record: dict) -> dict[int, dict]:
    return {op["index"]: op for op in record["ops"] if op["traced"]}


@pytest.mark.parametrize("workload", ["interactive", "analytic"])
def test_counters_repeat(workload):
    first = traced_ops(traced_run(workload, 7))
    second = traced_ops(traced_run(workload, 7))
    assert first, "no traced operations"
    assert first.keys() == second.keys()
    diffs = {}
    for i, a in first.items():
        b = second[i]
        assert a["template"] == b["template"]
        for k in EXACT:
            if a["counts"][k] != b["counts"][k]:
                diffs[(i, a["template"], k)] = (a["counts"][k], b["counts"][k])
        for k in BYTES:
            x, y = a["counts"][k], b["counts"][k]
            if abs(x - y) > 0.02 * max(x, y):
                diffs[(i, a["template"], k)] = (x, y)
    assert not diffs, f"counters differ: {diffs}"
