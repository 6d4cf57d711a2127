"""bench.py, the per-query harness: its stdout keys, its ``--set`` query
selection and its contention stamp."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_load_warning_reads_load_before_and_calib_drift():
    gate = 2.0
    assert not bench.load_warning(0.1, 300.0, 310.0, gate)
    assert bench.load_warning(2.5, 300.0, 300.0, gate)  # loaded at the start
    assert bench.load_warning(0.1, 300.0, 380.0, gate)  # slowed mid-run
    assert not bench.load_warning(0.1, 300.0, 375.0, gate)  # exactly the limit
    assert not bench.load_warning(2.0, 300.0, 200.0, gate)  # a faster host is clean


def test_select_queries_by_set():
    headline = bench.select_queries("headline")
    assert len(headline) == 16 and headline == sorted(headline)
    ext = bench.select_queries("tag:ext")
    assert "q_dedup_minhash_lsh" in ext and ext == sorted(ext)
    assert bench.select_queries("q_topk_global, q_agg_rollup") == [
        "q_topk_global",
        "q_agg_rollup",
    ]


@pytest.mark.parametrize("spec", ["tag:no_such_tag", "q_topk_global,q_no_such", ","])
def test_select_queries_rejects_unknown_tag_or_name(spec):
    with pytest.raises(ValueError):
        bench.select_queries(spec)


def test_cli_unknown_set_exits_nonzero_without_output():
    p = subprocess.run(
        [sys.executable, "bench.py", "--set", "tag:no_such_tag"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    assert p.returncode != 0
    assert p.stdout == ""
    assert "no_such_tag" in p.stderr


def test_bench_stdout_keys(spark):
    r = bench.bench(spark, ["q_pricing_summary"], SF_DIR, 1)
    assert set(r) == {
        "metric",
        "value",
        "unit",
        "queries",
        "cpu_sec_total",
        "queries_cpu_sec",
        "queries_tasks",
        "queries_jobs",
        "queries_build_jobs",
        "queries_compiles",
        "sf",
        "cpus",
        "loadavg_before",
        "loadavg_after",
        "load_note",
        "load_warning",
        "cpu_calib_ms_before",
        "cpu_calib_ms_after",
    }
    assert set(r["queries"]) == {"q_pricing_summary"}
    assert r["queries_tasks"]["q_pricing_summary"] >= 1
    assert r["queries_jobs"]["q_pricing_summary"] >= 1
    assert r["queries_build_jobs"]["q_pricing_summary"] == 0
    # the untimed warm-up pass compiled its generated code
    assert r["queries_compiles"]["q_pricing_summary"] == 0
    assert isinstance(r["load_warning"], bool)
