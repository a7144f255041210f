"""Tests of the benchmark itself: `python3 -m pytest perfbench -q`.

The smoke test runs all four workloads, their output checks and a traced
run at a tiny size in one Spark session (a few minutes on 4 vCPU)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import layers, run
from perfbench.sparkmetrics import parse_metric
from perfbench.tracing import self_times, union_length

ROOT = Path(__file__).resolve().parent.parent


def test_parse_metric_renderings():
    assert parse_metric("20,000") == 20000
    assert parse_metric("66 ms") == pytest.approx(0.066)
    assert parse_metric("3.1 MiB") == pytest.approx(3.1 * 2 ** 20)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n15.2 s (329 ms, 466 ms, 688 ms (stage 13.0: task 25))"
    ) == pytest.approx(15.2)
    assert parse_metric(None) == 0.0


def test_self_time_subtracts_overlapping_children():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 6.0},
    ]
    assert union_length([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == pytest.approx(6.0)
    assert self_times(spans)["a"] == pytest.approx(5.0)


def test_benchmark_json_lists_the_code_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in layers.PER_LAYER.items()
    }


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gather_family",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_smoke_every_workload_checked_and_traced():
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--seed", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], out
    res = out["workloads"]
    assert set(res) == set(run.SIZES)
    for name, r in res.items():
        assert r["failed"] == 0 and r["attempted"] > 1, (name, r)
        assert set(r["metrics"]) == set(layers.PER_LAYER), name
    gather = {k: v["value"] for k, v in res["gather_family"]["metrics"].items()}
    search = {k: v["value"] for k, v in res["search_hourly"]["metrics"].items()}
    # predictions read from the code, confirmed by the trace: cli gather
    # scans the corpus 4 times, cli search scans the store 4 times
    assert gather["sources.raw_scans"] == 4
    assert search["search.store_scans"] == 4
    assert search["sources.raw_scans"] == 0
    assert gather["build.partials"] > 0 and gather["merge.rows_in"] > 0
    assert gather["family.merge_python_s"] > 0 and search["family.merge_python_s"] == 0
    assert search["probe.rows_out"] > 0 and gather["probe.rows_out"] == 0
