"""Tests of the benchmark itself, at its tiny ``smoke`` size.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced; each run must pass its own
correctness checks and end with the result line BENCHMARK.json describes.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


# the gated workloads, plus the two that run only by hand (see README.md)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["stream_tail", "cow_read_mix"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_metric(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--size", "smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", "backlog_replay", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_query_tables_depend_only_on_the_seed(tmp_path):
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pyarrow.parquet as pq
    from query_suite import gen_tables

    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        os.makedirs(tmp_path / name)
        gen_tables(str(tmp_path / name), seed, 1)

    def table(d):
        return pq.read_table(str(tmp_path / d / "lineitem.parquet"))

    assert table("a").equals(table("b"))
    assert not table("a").equals(table("c"))
