"""Smoke tests of the benchmark command at tiny input sizes.

    python -m pytest perfbench/test_smoke.py -q

The two command runs start Spark and take about two minutes together.
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
sys.path.insert(0, HERE)

import harness  # noqa: E402
import inputs  # noqa: E402
import run as bench_run  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def invoke(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "3", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    return r


def test_end_to_end_metrics():
    r = result_of(invoke(ROOT, "--workload", "bulk_codec", "--seed", "3",
                         "--trace", "0", "--small"))
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_per_layer_metrics_and_spans():
    p = invoke(ROOT, "--workload", "index_serving", "--seed", "3",
               "--trace", "1", "--small")
    r = result_of(p)
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert r["metrics"]["queries.index_intersect.ms_p50"]["value"] > 0
    assert r["metrics"]["spark.tasks"]["value"] > 0
    spans = [line for line in p.stderr.splitlines()
             if line.startswith("spans: ")][-1].split(" ", 1)[1]
    with open(spans) as f:
        first = json.loads(f.readline())
    assert first["name"] == "run" and first["parent"] is None


def test_spec_matches_the_command():
    s = spec()
    assert [m["name"] for m in s["per_layer"]] == \
        bench_run.per_layer_names()
    assert all(m["unit"] == bench_run.unit_of(m["name"])
               for m in s["per_layer"] + s["end_to_end"])
    assert [w["name"] for w in s["workloads"]] == \
        ["bulk_codec", "index_serving"]


def test_fails_without_the_package():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = invoke(bare, "--workload", "bulk_codec", "--seed", "1",
                   "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_inputs_are_a_function_of_the_seed():
    a, b = (inputs.generate_tokens(7, 50, 16) for _ in range(2))
    assert a.equals(b)
    assert not a.equals(inputs.generate_tokens(8, 50, 16))
    d1, d2 = (inputs.generate_documents(7, 200) for _ in range(2))
    assert d1.equals(d2)
    assert sorted(d1.column("doc_id").to_pylist()) == list(range(200))


@pytest.mark.parametrize("text,value", [
    ("60,000", 60000.0), ("0 ms", 0.0), ("2.6 s", 2600.0),
    ("total (min, med, max (stageId: taskId))\n59.1 MiB (10.7 MiB, "
     "16.1 MiB, 16.2 MiB (stage 27.0: task 49))", 59.1),
    ("236.0 B", 236.0 / 2**20), ("1.5 m", 90000.0)])
def test_parse_metric_value(text, value):
    assert harness.parse_metric_value(text) == pytest.approx(value)
