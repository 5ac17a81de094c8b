"""Toy-size run of every workload: every metric is printed with its unit,
every correctness check passes and no operation fails.

Run with ``python -m pytest perfbench/test_smoke.py -q`` from the
repository root (about four minutes: six Spark processes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402


@pytest.fixture(scope="module")
def smoke():
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", "all", "--smoke", "--seconds", "3", "--seed", "1",
        ],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def test_every_check_passes(smoke):
    report, final = smoke
    assert final["correct"] is True
    assert final["failed"] == 0
    assert final["attempted"] > 0
    for runs in report["runs"].values():
        for run in runs.values():
            assert run["report"]["problems"] == []


def test_named_end_to_end_metrics_printed_with_units(smoke):
    _, final = smoke
    for name, (unit, _) in metrics.NAMED.items():
        got = final["metrics"][name]
        assert got["unit"] == unit, name
        assert got["value"] > 0, name


def test_per_layer_metrics_printed_with_units(smoke):
    _, final = smoke
    for name, (unit, _) in metrics.PER_LAYER.items():
        assert final["metrics"][name]["unit"] == unit, name


def test_contract_lines_match_benchmark_json(smoke):
    report, _ = smoke
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.CONTRACT_LAYERS
    for w in spec["workloads"]:
        runs = report["runs"][w["name"]]
        for trace, want in (("0", e2e), ("1", layers)):
            got = runs[trace]["result"]["metrics"]
            assert {k: v["unit"] for k, v in got.items()} == want
            assert all(isinstance(v["value"], (int, float)) for v in got.values())
        assert all(v["value"] > 0 for v in runs["0"]["result"]["metrics"].values())


def test_tracing_overhead_reported(smoke):
    report, _ = smoke
    overhead = report["tracing_overhead"]
    for w in report["runs"]:
        for m in list(metrics.END_TO_END) + ["op_cpu_ms"]:
            assert overhead[f"{w}.{m}"] is not None
