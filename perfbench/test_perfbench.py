"""Tests of the benchmark itself: seeded inputs, the output contract, and
runs from outside the repository root.

Run with ``python3 -m pytest perfbench -q`` (about a minute: three
short Spark runs).
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
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_same_seed_gives_identical_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 0.001, seed=5)
    b = gen.generate(str(tmp_path / "b"), 0.001, seed=5)
    c = gen.generate(str(tmp_path / "c"), 0.001, seed=6)
    assert a == b
    assert a["fingerprint"] != c["fingerprint"]
    rows = {t: m["rows"] for t, m in a["tables"].items()}
    assert rows["lineitem"] == 6000 and rows["orders"] == 1500
    assert all(m["bytes"] > 0 for m in a["tables"].values())


def test_checkout_without_the_package_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fold_small",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_output_names_every_metric(trace, kind):
    out = _result(subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fold_small",
         "--queries", "mr_readme_sum", "--seed", "3", "--seconds", "0",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 2
    want = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_pandas_udf_query_runs_from_a_foreign_directory(tmp_path):
    """The Python workers must import the package even when neither the
    working directory nor PYTHONPATH points at the repository."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "udf_rounds", "--queries", "mr_assign_udf", "--seed", "2",
         "--seconds", "0", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    out = _result(proc)
    assert out["correct"] and out["failed"] == 0
    assert os.listdir(tmp_path) == []
