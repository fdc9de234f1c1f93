"""The benchmark's own tests, at smoke scale (klog sf0.001, a 300-doc corpus).

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs ``run.py`` in a subprocess from the checkout's root, as a
benchmark harness does, and reads the last line of its output. Every run starts Spark, so each takes tens of
seconds even at this scale.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_WORKLOADS = ("cold_stage", "staged_queries", "incremental_resume", "corpus_dedup")


def run(*args: str, cwd: Path = ROOT) -> tuple[int, str]:
    proc = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def names_and_units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_spec_names_the_workloads_it_can_run():
    assert {w["name"] for w in SPEC["workloads"]} <= set(ALL_WORKLOADS)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_timed_run_is_correct_and_reports_every_end_to_end_metric(workload):
    code, out = run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke")
    assert code == 0, out
    r = result(out)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
    want = names_and_units("end_to_end")
    if workload == "corpus_dedup":  # the one workload that stages nothing
        del want["stored_bytes_ratio"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values()), r["metrics"]


def test_traced_run_reports_every_per_layer_metric():
    code, out = run("--workload", "cold_stage", "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke")
    assert code == 0, out
    r = result(out)
    assert r["correct"] and r["failed"] == 0, r
    assert {k: v["unit"] for k, v in r["metrics"].items()} == names_and_units("per_layer")
    assert r["metrics"]["failed_ratio"]["value"] == 0


@pytest.mark.parametrize("workload", ("cold_stage", "corpus_dedup"))
def test_a_wrong_expected_answer_counts_as_failed(workload):
    code, out = run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke",
                    "--break-check")
    assert code == 0, out
    r = result(out)
    assert not r["correct"] and r["failed"] / r["attempted"] > 0, r


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".traces", "__pycache__"))
    code, out = run("--workload", "cold_stage", "--seed", "1", "--seconds", "1", "--trace", "0",
                    cwd=tmp_path)
    assert code != 0
    assert '"metrics"' not in out
