#!/usr/bin/env python
"""Round-closing verification runner: the full gate sequence the judge
re-runs, as one command (see also .claude/skills/verify/SKILL.md).

    python tools/verify_all.py [--fast]

Runs, in order, each as a subprocess (so one Spark session's state can't
leak into the next gate):

1. pytest tests/                         (the ROADMAP tier-1 command, sf0.001)
2. exact_parity at sf0.01 AND sf0.1      (driver-exact oracle sweeps)
3. exact_parity VANILLA mode at sf0.01   (driver-environment simulation)
4. pytest perfbench/test_smoke.py        (the declared benchmark still runs)
5. perfbench iterative, traced           (PageRank, pipeline, MinHash savings:
                                          digests match, no pinned RDD left)
6. bench.py                              (frozen 16-query headline)
7. bench.py --set tag:ext                (the extension series)

--fast skips 6-7 (the timing gates) for a correctness-only pass.
Prints one JSON summary line and exits non-zero if any gate fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def iterative_ok(stdout: str) -> bool:
    """perfbench exits 0 even when a digest mismatches, so read its result
    line: every output correct and no RDD left pinned after the run."""
    lines = stdout.strip().splitlines()
    if not lines:
        return False
    try:
        res = json.loads(lines[-1])
        pinned = res["metrics"]["session.pinned_rdds_after"]["value"]
    except (ValueError, KeyError, TypeError):
        return False
    return res.get("correct") is True and pinned == 0


def run(name: str, cmd: list[str], env: dict | None = None, check=None) -> dict:
    t0 = time.time()
    e = dict(os.environ)
    e["PYTHONPATH"] = ROOT
    if env:
        e.update(env)
    p = subprocess.run(
        cmd, cwd=ROOT, env=e, capture_output=True, text=True
    )
    tail = "\n".join((p.stdout + p.stderr).strip().splitlines()[-3:])
    return {
        "gate": name,
        "ok": p.returncode == 0 and (check is None or check(p.stdout)),
        "secs": round(time.time() - t0, 1),
        "tail": tail[-300:],
    }


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    # The ROADMAP tier-1 command: the same flags, environment and timeout.
    tier1 = (
        ["timeout", "-k", "10", "2670", py, "-m", "pytest", "tests/", "-q"]
        + ["--continue-on-collection-errors", "-p", "no:cacheprovider"]
    )
    tier1_env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": "/tmp/spark-local",
    }
    gates = [
        ("pytest", tier1, tier1_env),
        ("parity_sf0.01", [py, "tools/exact_parity.py", "/root/testdata/sf0.01"], None),
        ("parity_sf0.1", [py, "tools/exact_parity.py", "/root/testdata/sf0.1"], None),
        (
            "parity_vanilla",
            [py, "tools/exact_parity.py", "/root/testdata/sf0.01"],
            {"SPARK_GRAFT_VANILLA": "1"},
        ),
        ("perfbench_smoke", [py, "-m", "pytest", "perfbench/test_smoke.py", "-q"], None),
        (
            "perfbench_iterative",
            [py, "perfbench/run.py", "--workload", "iterative", "--seed", "1"]
            + ["--seconds", "1", "--trace", "1"],
            None,
            iterative_ok,
        ),
    ]
    if not fast:
        gates += [
            ("bench_headline", [py, "bench.py"], None),
            ("bench_extensions", [py, "bench.py", "--set", "tag:ext"], None),
        ]
    results = [run(*g) for g in gates]
    ok = all(r["ok"] for r in results)
    print(json.dumps({"metric": "verify_all", "ok": ok, "gates": results}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
