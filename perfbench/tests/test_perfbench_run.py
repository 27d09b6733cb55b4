"""End-to-end checks of the benchmark itself. Each starts Spark in a
subprocess; the traced query_mix run takes about two minutes on 4 cores."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 11


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain", "--ignored=no"], cwd=ROOT, capture_output=True,
        text=True, check=True,
    ).stdout


@pytest.fixture(scope="module")
def traced_run():
    before = _git_status()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", str(SEED),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    after = _git_status()
    with open(os.path.join(ROOT, ".perfbench", "results", f"query_mix-s{SEED}-t1.json")) as fh:
        record = json.load(fh)
    return proc, before, after, record


def test_run_leaves_the_worktree_unchanged(traced_run):
    proc, before, after, _ = traced_run
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert after == before


def test_traced_run_reports_every_layer(traced_run):
    proc, _, _, _ = traced_run
    import run

    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert result["metrics"]["exec.jobs"]["value"] > 0
    assert result["metrics"]["shared.lookups"]["value"] > 0


def test_layer_spans_cover_each_query(traced_run):
    """The spans directly under each query sum to within 5% of its wall time."""
    _, _, _, record = traced_run
    spans = record["spans"]
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        wall = op["end"] - op["start"]
        covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == op["id"])
        assert abs(wall - covered) <= 0.05 * wall, (op["query"], wall, covered)


def test_refuses_to_run_without_the_program(tmp_path):
    """A directory holding only the benchmark exits non-zero with no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
