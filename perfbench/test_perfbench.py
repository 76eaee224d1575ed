"""The benchmark's own test: smoke-size runs of every workload plus one
traced run, checking that every named metric appears with its unit.

    python3 -m pytest perfbench/test_perfbench.py -q     (a few minutes)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(HERE, "layout.json")) as f:
    LAYOUT = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


def test_layout_matches_benchmark_json():
    assert _units(BENCH["per_layer"]) == {k: v["unit"] for k, v in LAYOUT["per_layer"].items()}
    assert set(_units(BENCH["end_to_end"])) == set(LAYOUT["end_to_end"])
    assert [w["name"] for w in BENCH["workloads"]] == list(LAYOUT["workloads"])
    for name, m in LAYOUT["workload_metrics"].items():
        assert m["workload"] in (*LAYOUT["workloads"], "all"), name


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_reports_every_metric(workload):
    code, lines = _run(workload, trace=0)
    assert code == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units(BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    named = json.loads(lines[-2])["detail"]["workload_metrics"]
    want = {k: m["unit"] for k, m in LAYOUT["workload_metrics"].items()
            if m["workload"] in (workload, "all")}
    assert {k: v["unit"] for k, v in named.items()} == want


def test_traced_run_reports_every_per_layer_metric():
    code, lines = _run("seq_io", trace=1)
    assert code == 0
    result = json.loads(lines[-1])
    assert result["correct"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units(BENCH["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["snappy.decompress_calls"] > 0 and m["core.records"] > 0
    assert m["spark.jobs"] > 0 and m["datasource.splits"] > 0


def test_refuses_to_run_without_the_program():
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        code, lines = _run("seq_io", trace=0, cwd=d)
        assert code != 0
        assert not any(line.startswith("{") for line in lines)
