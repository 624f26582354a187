"""A tiny-size run of each workload with a fixed seed: it must pass its
own correctness checks and print every metric BENCHMARK.json names, in
the result line's format. Each run starts its own Spark session, so
this file takes a few minutes."""

import json
import os
import subprocess
import sys

import pytest

import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
WORKLOADS = ["catalog_interactive", "lakehouse_mixed", "corpus_pipeline"]


def _bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert lines[-2].startswith("perfbench-detail ")
    return json.loads(lines[-1]), json.loads(lines[-2].split(" ", 1)[1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_is_correct_and_complete(workload, trace):
    result, detail = _bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["seed"] == 7 and detail["cpus"] >= 1
    assert detail["spark"] and detail["python"]
    assert detail["summary"]["tail"]["samples"] >= 1
    assert detail["failures"] == []


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert [m["name"] for m in spec["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: v[0] for k, v in layers.LAYER_MAP.items()}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
