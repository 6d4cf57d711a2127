#!/usr/bin/env python
"""Per-query harness: runs a set of queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}.

    python bench.py [--set headline|tag:<t>|<q_a,q_b,...>]

``--set`` picks the queries: the 16 frozen headline queries (the default),
every query carrying registry tag ``<t>`` (``tag:ext`` is the extension
series), or a comma-separated list of names. An unknown tag or name exits
non-zero before any session starts.

Per-query wall time covers plan build + full execution into Spark's `noop`
sink (every operator runs, nothing is fetched to the Python driver — driver-
side Row deserialization is harness overhead, not engine work). Session
startup is excluded (a cluster pays it once, not per query).

Each query is timed over $SPARK_GRAFT_BENCH_PASSES (default 3) passes after
one untimed warmup, reporting the per-query MEDIAN: single-pass numbers on a
shared machine swing ±25%, and the median of 3 is immune to one outlier pass.

Each timed query is one perfbench :class:`Tracer` span holding a
``plans.build`` and a ``plans.exec`` child, with the query's
:class:`StatusStore` counts attached. The medians of that record go to
stderr, one row per query: build and exec seconds, build-time jobs, jobs,
stages, tasks, executor CPU seconds, shuffle bytes and the whole-stage-
codegen classes compiled over build + exec (0 once Spark's codegen cache
holds the query's generated code).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.spans import StatusStore, Tracer  # noqa: E402
from the_movie_database_import_spark.plans import REGISTRY  # noqa: E402
from the_movie_database_import_spark.session import get_spark  # noqa: E402

# Largest after/before ratio of the calibration loop a clean run shows: the
# loop runs while Spark is idle, so a larger slowdown is load (or frequency
# scaling) that arrived mid-run.
CALIB_DRIFT = 1.25


def _cpu_calib_ms() -> float:
    """Fixed single-thread integer workload (~350 ms nominal on this class
    of host): anchors the artifact to the host's EFFECTIVE single-core
    speed at recording time. r13 finding: same-tree reruns with BYTE-
    IDENTICAL per-query task counts varied 1.3-1.5x in both wall AND
    executor-CPU seconds purely with host speed (frequency scaling / noisy
    neighbors) while loadavg read idle — so loadavg alone cannot certify a
    recording window, but this number lets any two artifacts be speed-
    normalized (compare cpu_calib_ms ratios before comparing seconds)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFFFFFF
    return round((time.perf_counter() - t0) * 1000, 1)


def _load_gate() -> float:
    return float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))


def load_warning(
    load_1m_before: float, calib_ms_before: float, calib_ms_after: float, gate: float
) -> bool:
    """Whether a run was recorded on a contended host: the 1-minute load
    was above ``gate`` when it started, or the calibration loop slowed by
    more than :data:`CALIB_DRIFT` across it. The load AFTER the run is no
    evidence — our own Spark threads raise it (idle starts read 0.05 → 3.77
    and 0.10 → 5.02 over a clean run)."""
    return load_1m_before > gate or calib_ms_after / calib_ms_before > CALIB_DRIFT


def select_queries(spec: str) -> list[str]:
    """Names for ``--set``: ``headline``, ``tag:<t>`` (sorted by name), or
    comma-separated names in the order given. Raises ValueError on an
    unknown tag or name, so an empty set is never timed."""
    if spec == "headline":
        return [n for n, s in sorted(REGISTRY.items()) if s.headline]
    if spec.startswith("tag:"):
        tag = spec[len("tag:"):]
        names = [n for n, s in sorted(REGISTRY.items()) if tag in s.tags]
        if not names:
            raise ValueError(f"no registry query carries tag {tag!r}")
        return names
    names = list(dict.fromkeys(n.strip() for n in spec.split(",") if n.strip()))
    unknown = [n for n in names if n not in REGISTRY]
    if unknown or not names:
        raise ValueError(f"unknown query names {unknown or [spec]}")
    return names


def drain(spark) -> None:
    """Wait until the status store has seen every posted listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def drained_read(spark, store: StatusStore) -> dict[str, float]:
    """``store.read()`` after a :func:`drain`: a read marks each new stage
    as seen even while its end event is still queued, and would lose that
    stage's tasks and CPU for good."""
    drain(spark)
    return store.read()


def compile_count(spark) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's codegen
    cache misses): a difference of two readings is the recompilation a
    piece of work paid."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def host_reading() -> tuple[tuple[float, float, float], float]:
    """1/5/15-min loadavg and the calibration loop, taken while Spark is idle."""
    return os.getloadavg(), _cpu_calib_ms()


def _print_record(med: dict[str, dict[str, float]]) -> None:
    print(
        f"{'query':<36} {'build_s':>8} {'exec_s':>8} {'bjobs':>5} {'jobs':>5} "
        f"{'stages':>6} {'tasks':>6} {'cpu_s':>7} {'shufR_MB':>9} {'shufW_MB':>9} "
        f"{'compiles':>8}",
        file=sys.stderr,
    )
    for name, m in med.items():
        print(
            f"{name:<36} {m['build_s']:>8.3f} {m['exec_s']:>8.3f} "
            f"{m['build_jobs']:>5.0f} {m['spark.jobs']:>5.0f} {m['spark.stages']:>6.0f} "
            f"{m['spark.tasks']:>6.0f} {m['spark.executor_cpu_s']:>7.2f} "
            f"{m['spark.shuffle_read_bytes'] / 1e6:>9.2f} "
            f"{m['spark.shuffle_write_bytes'] / 1e6:>9.2f} {m['compiles']:>8.0f}",
            file=sys.stderr,
        )


def bench(
    spark,
    names: list[str],
    sf_dir: str,
    passes: int,
    before: tuple[tuple[float, float, float], float] | None = None,
    metric: str = "headline_queries_total",
) -> dict:
    """Time ``names`` and return the dict bench.py prints. ``before`` is a
    :func:`host_reading` from before the session started, else taken now."""
    load_before, calib_before = before or host_reading()
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    def build(name: str):
        return REGISTRY[name].spark_fn(spark, sf_dir)

    # Untimed warmup pass: JVM/codegen/parquet-footer caches are one-time
    # session costs a long-lived cluster amortizes away; the timed passes
    # measure steady-state plan build + execution.
    for name in names:
        build(name).write.format("noop").mode("overwrite").save()

    store = StatusStore(spark)
    drained_read(spark, store)
    tracer = Tracer(True)
    records: dict[str, list[dict]] = {n: [] for n in names}
    for _ in range(passes):
        for name in names:
            # Drains and status-store reads fall outside the build and exec
            # spans, the two timed windows.
            job0, compiles0 = store.max_job(), compile_count(spark)
            with tracer.span("query", query=name) as q:
                with tracer.span("plans.build", query=name) as b:
                    df = build(name)
                drain(spark)
                q.attrs["build_jobs"] = store.max_job() - job0
                with tracer.span("plans.exec", query=name) as e:
                    df.write.format("noop").mode("overwrite").save()
            build_s, exec_s = b.end - b.start, e.end - e.start
            q.attrs.update(
                build_s=build_s,
                exec_s=exec_s,
                wall_s=build_s + exec_s,
                compiles=compile_count(spark) - compiles0,
            )
            q.attrs.update(drained_read(spark, store))
            records[name].append(q.attrs)
    med = {
        n: {k: statistics.median(r[k] for r in rs) for k in rs[0] if k != "query"}
        for n, rs in records.items()
    }
    _print_record(med)

    def per_query(key: str, cast=lambda v: round(v, 4)) -> dict:
        return {n: cast(m[key]) for n, m in med.items()}

    timings = per_query("wall_s")
    # Executor CPU seconds are load-invariant to first order (contention
    # stretches wall time, not the cycles our tasks burn); task counts pin
    # plan shape even when timings hide in noise.
    cpu_timings = per_query("spark.executor_cpu_s")
    load_after = os.getloadavg()
    calib_after = _cpu_calib_ms()
    warn = load_warning(load_before[0], calib_before, calib_after, _load_gate())
    if warn:
        print(
            f"WARNING: contended recording (load_1m before {load_before[0]:.2f}, "
            f"calib {calib_before} → {calib_after} ms) — wall times read high; "
            "the artifact is stamped load_warning",
            file=sys.stderr,
        )
    return {
        "metric": metric,
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "cpu_sec_total": round(sum(cpu_timings.values()), 4),
        "queries_cpu_sec": cpu_timings,
        "queries_tasks": per_query("spark.tasks", int),
        "queries_jobs": per_query("spark.jobs", int),
        "queries_build_jobs": per_query("build_jobs", int),
        "queries_compiles": per_query("compiles", int),
        "sf": sf_val,
        # core count the session actually ran with
        "cpus": int(
            os.environ.get("SPARK_GRAFT_CPUS") or spark.sparkContext.defaultParallelism
        ),
        # 1/5/15-min load before session start and after the timed passes
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "load_note": (
            "host load >~3 inflates totals ~15-20% uniformly; "
            "idle-host reference band in BASELINE.md"
        ),
        # a stamped run compares cpu_sec/tasks, not wall, with a baseline
        "load_warning": warn,
        # single-core speed anchor: normalize cross-window seconds by it
        "cpu_calib_ms_before": calib_before,
        "cpu_calib_ms_after": calib_after,
    }


def main(argv: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--set",
        default="headline",
        help="headline (default), tag:<t>, or comma-separated query names",
    )
    args = ap.parse_args(argv)
    try:
        names = select_queries(args.set)
    except ValueError as e:
        ap.error(str(e))
    kind, _, tag = args.set.partition(":")
    metric = {"headline": "headline", "tag": tag}.get(kind, "selected") + "_queries_total"
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

    # While the 1-minute load exceeds $SPARK_GRAFT_LOAD_GATE (default 2.0)
    # the run waits up to $SPARK_GRAFT_LOAD_WAIT_SEC (default 120) for the
    # host to drain; see load_warning for the stamp.
    load_gate = _load_gate()
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "120"))
    waited = 0.0
    while os.getloadavg()[0] > load_gate and waited < wait_budget:
        print(
            f"load_1m {os.getloadavg()[0]:.2f} > gate {load_gate}; "
            f"waiting ({waited:.0f}/{wait_budget:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15

    before = host_reading()
    spark = get_spark("tmdb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result = bench(spark, names, sf_dir, passes, before, metric)
    finally:
        spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
