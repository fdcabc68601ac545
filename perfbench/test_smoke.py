"""Smoke test of the benchmark itself at tiny sizes (10k synthetic turns,
suite tables at sf0.001):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Every workload runs once; every metric BENCHMARK.json names must be printed
with its unit, and a corrupted golden must fail the output check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny",
         "--seed", "1", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, specs: list[dict]) -> None:
    for m in specs:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} not printed"
        assert got["unit"] == m["unit"], (m["name"], got["unit"])
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", ["pipeline_synth", "job_sinks", "operator_suite"])
def test_workload_prints_every_metric(workload):
    r = run("--workload", workload, "--trace", "0")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert_metrics(r, SPEC["end_to_end"])


def test_traced_run_prints_every_layer():
    r = run("--workload", "pipeline_synth", "--trace", "1")
    assert r["correct"]
    assert_metrics(r, SPEC["per_layer"])


def test_corrupted_golden_fails_the_check(tmp_path):
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)
    g = goldens["pipeline_synth"]["10000/1"]["aggregates"]
    g["hash"] = str(int(g["hash"]) + 1)
    bad = tmp_path / "goldens.json"
    bad.write_text(json.dumps(goldens))
    r = run("--workload", "pipeline_synth", "--trace", "0", "--goldens", str(bad))
    assert not r["correct"] and r["failed"] >= 1
