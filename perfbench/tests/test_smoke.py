"""A short run of each workload end to end (about a minute each)."""

import json
import os
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in last["metrics"].values())
    for name in ("job_s", "task_cpu_s", "peak_rss_mb", "setup_s", "failed_frac"):
        assert f"{workload} {name} = " in p.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, exit non-zero and
    print no result."""
    import shutil

    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hgn_cascade", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout.strip() == ""
