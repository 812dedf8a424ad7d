"""Self-test of the benchmark at tiny input sizes.

    python -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py``'s ``main`` in a fresh interpreter (one
Spark session per run, as the benchmark is used) and checks the result line:
every workload prints every metric it names with its unit, and a
deliberately corrupted engine result is caught by the oracle check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: every workload prints these end-to-end metrics (name -> unit) untraced
END_TO_END = {
    "setup_s": "s",
    "schedule_rel": "ratio",
    "write_amp": "ratio",
}
WORKLOADS = ["replay", "serve", "tail"]

#: engine results the corruption cases break, one per workload
CORRUPTIONS = {
    # the engine loses every turn 3 it is given
    "replay": (
        "from nifi_dicom_spark.operators import apply\n"
        "orig = apply.apply_changes\n"
        "apply.apply_changes = lambda table, events, **kw: orig(\n"
        "    table, events.filter('turn_idx != 3'), **kw)\n"
    ),
    # every point lookup comes back empty
    "serve": (
        "from nifi_dicom_spark.lake.snapshot_table import SnapshotTable\n"
        "orig = SnapshotTable.lookup\n"
        "SnapshotTable.lookup = lambda self, values, **kw: orig(\n"
        "    self, values, **kw).limit(0)\n"
    ),
}


def run_bench(workload: str, trace: int, inject: str = "") -> tuple[int, dict]:
    code = (
        f"import sys\nsys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run, workloads\n"
        f"{inject}"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', "
        f"'--seconds', '2', '--trace', '{trace}'], sizes=workloads.SMOKE))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-4000:]
    return proc.returncode, json.loads(lines[-1])


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_result(result: dict, expected: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
        assert math.isfinite(m["value"]), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_end_to_end_metrics(workload):
    code, result = run_bench(workload, trace=0)
    assert code == 0
    check_result(result, END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    code, result = run_bench(workload, trace=1)
    assert code == 0
    check_result(
        result, {m["name"]: m["unit"] for m in benchmark_json()["per_layer"]}
    )


def test_benchmark_json_names_what_every_workload_prints():
    spec = benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(CORRUPTIONS))
def test_corrupted_result_counts_as_failed(workload):
    code, result = run_bench(workload, trace=0, inject=CORRUPTIONS[workload])
    assert code != 0
    assert result["correct"] is False
    assert 0 < result["failed"] <= result["attempted"]


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it fails fast and prints
    no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "replay",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
