"""Toy-size end-to-end runs of every workload through the command line,
and the refusal to run without the engine next to the benchmark."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def run(cwd, *args, timeout=240):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload,trace", [
    ("batch_web_mix", "0"), ("batch_web_mix", "1"),
    ("incremental_ingest", "0"), ("incremental_ingest", "1")])
def test_workload_smoke(workload, trace):
    p = run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", trace, "--scale", "0.1")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace == "1" else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert out["metrics"]["dup_pair_recall"]["value"] >= 0.99


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = run(tmp_path, "--workload", "batch_web_mix", "--seed", "1",
            "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
