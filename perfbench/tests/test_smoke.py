"""Tiny-size smoke of every workload through the real command: metric
names and units match BENCHMARK.json, and each output check passes.
Each case starts a Spark JVM (the traced case two), so this takes
a few minutes."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RUN = [sys.executable, "perfbench/run.py"]
TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.02"]


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p.stderr


def assert_result(res, spec_metrics):
    assert res is not None
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec_metrics}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end(workload):
    rc, res, err = run(["--workload", workload, "--trace", "0"] + TINY)
    assert rc == 0, err[-3000:]
    assert_result(res, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values()), res


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_traced(workload):
    rc, res, err = run(["--workload", workload, "--trace", "1"] + TINY)
    assert rc == 0, err[-3000:]
    assert_result(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs_per_op"] > 0 and m["session.start_s"] > 0
    if workload == "dedup_stream":
        assert m["stream.jobs_per_epoch"] > 0 and 0 < m["dedup.admit_ratio"] < 1
    if workload == "media":
        assert m["media.arrow_bytes_sent_per_op"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert rc != 0 and res is None
