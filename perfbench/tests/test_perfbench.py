"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark: each runs one workload on the sf0.001
tables in a fresh process, about a minute apiece.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_entries_are_registered_and_oracled():
    import __spark_entry__ as entry_mod

    from perfbench.workloads import ROWS_ONLY_AGAINST

    registered, oracled = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    for wl in WORKLOADS.values():
        for name in wl.entries:
            assert name in registered
            assert ROWS_ONLY_AGAINST.get(name, name) in oracled
    assert sorted(w["name"] for w in _spec()["workloads"]) == sorted(WORKLOADS)


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_prints_benchmark_metrics(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not [d for d in os.listdir(os.path.join(ROOT, ".perfbench")) if d.startswith("run-")]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    p = _run(["--workload", "batch_sf01", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout
