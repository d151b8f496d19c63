"""Self-test of the benchmark at tiny scale.

    python -m pytest perfbench -q

Each case runs ``perfbench/run.py --tiny`` in a subprocess (a fresh JVM,
~30-60 s each on 4 cores). It checks the output contract that
``BENCHMARK.json`` declares, that a wrong expected result is caught and
counted, and that the command fails cleanly in a directory without the
package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
LISTED = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(workload: str, trace: int, *extra: str) -> dict:
    p = _run(ROOT, workload, trace, "--tiny", *extra)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", LISTED + ["webtext_join"])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    res = _result(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["end_to_end" if trace == 0 else "per_layer"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if trace == 0:  # end-to-end metrics are never 0
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


@pytest.mark.parametrize("workload", LISTED + ["webtext_join"])
def test_a_wrong_expected_result_is_counted_as_failed(workload):
    res = _result(workload, 0, "--wrong-expected")
    assert res["correct"] is False
    assert 1 <= res["failed"] <= res["attempted"]


def test_fails_without_the_package():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run(bare, LISTED[0], 0)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
