"""Smoke test of the benchmark at tiny scale (sf0.001, 300 movies).

Checks, for every workload, that the result line names every metric of
``BENCHMARK.json`` with its unit, that outputs verify, and that a traced
run's spans nest. Takes a few minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# Tiny-scale digests are recorded for input sets 0 and 1 only (seed mod 10).
def bench(workload: str, trace: int, seed: int = 1) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    last = p.stdout.strip().splitlines()[-1]
    return json.loads(last)


def test_metric_lists_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOAD_NAMES)


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_untraced_run_prints_end_to_end_metrics(workload):
    r = bench(workload, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.END_TO_END
    assert r["metrics"]["ok_frac"]["value"] == 1.0
    for k in ("setup_s", "wall_s", "cpu_s"):
        assert r["metrics"][k]["value"] > 0


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_traced_run_prints_layers_and_nested_spans(workload):
    seed = 10
    r = bench(workload, 1, seed)
    assert r["correct"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed{seed}.json")) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    names = {s["name"] for s in spans.values()}
    assert {"setup", "session.start", "rep", "session.release"} <= names
    if workload == "etl":
        assert {"etl.build", "sources.write"} <= names
    else:
        assert {"plans.build", "plans.catalyst", "plans.exec"} <= names
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    m = {k: v["value"] for k, v in r["metrics"].items()}
    if workload == "headline":
        assert m["operators.lsh_candidates"] >= m["operators.lsh_verified"] > 0
    if workload == "etl":
        assert m["sources.write_s"] > 0 and m["sources.out_bytes"] > 0
    else:
        assert m["plans.build_s"] > 0 and m["spark.tasks"] > 0
