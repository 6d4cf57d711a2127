"""Regenerate tests/plan_manifest.json: one row of plan-shape counts per
registry query, built (never executed) at sf0.001.

Usage: python tools/plan_manifest.py

``SPARK_GRAFT_TEST_SF_DIR`` picks the data directory, as for the test suite.
``tests/test_oracle_parity.py`` compares the row of every query it builds
against the manifest through :func:`build_row`, so the check and this
script share one code path. A change that moves a row regenerates it here
and says why in CHANGES.md.

A row holds counts, not plan text:

- ``build_jobs``: Spark jobs started while the query's DataFrame is built
  (eager probes, checkpoints, training), after every testdata table's
  schema is cached so no row depends on which query ran first;
- node counts on the pre-execution ``executedPlan()``: shuffle ``Exchange``,
  ``BroadcastExchange``, ``InMemoryTableScan``, ``Scan ExistingRDD``
  (checkpoint and other RDD scans), each physical join operator and the
  Python evaluation nodes (``ArrowEvalPython``, ``MapInPandas``, ...);
- ``array_intersect``: occurrences of that function in the nodes'
  expressions.

The walk descends into cached relations and subqueries and reads every
adaptive plan through its initial plan, so a cache that an eager probe has
already materialized counts the same as one that has not.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MANIFEST = os.path.join(ROOT, "tests", "plan_manifest.json")

# physical node name -> column
NODE_COLUMNS = {
    "Exchange": "exchange",
    "BroadcastExchange": "broadcast_exchange",
    "InMemoryTableScan": "in_memory_scan",
    "Scan ExistingRDD": "rdd_scan",
    "BroadcastHashJoin": "broadcast_hash_join",
    "ShuffledHashJoin": "shuffled_hash_join",
    "SortMergeJoin": "sort_merge_join",
    "BroadcastNestedLoopJoin": "broadcast_nested_loop_join",
    "CartesianProduct": "cartesian_product",
}
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
COLUMNS = ("build_jobs", *NODE_COLUMNS.values(), "python_eval", "array_intersect")
# Expression text is truncated past this many fields; keep all of it.
_MAX_FIELDS = 1 << 20
# Cells written as null and left out of the comparison, because no one
# number is right:
# - q_similarity_ivf_topk: MLlib KMeans stops once its centres move less
#   than its tolerance, and its float sums follow the partitioning, so its
#   rounds, and with them the build-time jobs, depend on the core count
#   (23 jobs at local[4], 25 at local[2]);
# - q_similarity_ivfpq_served: its persisted index is built once per
#   process and data directory, so it starts 33 jobs on the process's
#   first build and 1 after (in tier-1, test_extensions builds it first).
UNPINNED = {
    "q_similarity_ivf_topk": ("build_jobs",),
    "q_similarity_ivfpq_served": ("build_jobs",),
}


def scale(sf_dir: str) -> str:
    """The manifest's scale key: the data directory's name (``sf0.001``)."""
    return os.path.basename(os.path.normpath(sf_dir))


def job_ids(spark) -> set[int]:
    """Ids of every job started so far (outside a job group), after the
    listener bus has delivered every pending job-start event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def warm_schemas(spark, sf_dir: str) -> None:
    """Cache every testdata table's schema, so building a query infers none."""
    from the_movie_database_import_spark.sources.readers import (
        TESTDATA_TABLES,
        load_table,
    )

    for table in TESTDATA_TABLES:
        load_table(spark, sf_dir, table)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_counts(df, nodes: dict[str, str] = NODE_COLUMNS) -> dict[str, int]:
    """Node and ``array_intersect`` counts of ``df``'s pre-execution plan;
    ``nodes`` maps each counted physical node name to its column."""
    counts = dict.fromkeys((*nodes.values(), "python_eval", "array_intersect"), 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if kind == "InMemoryRelation":
            stack.append(node.cachedPlan())
            continue
        name = node.nodeName()
        if name in nodes:
            counts[nodes[name]] += 1
        elif _PYTHON_NODE.search(name):
            counts["python_eval"] += 1
        counts["array_intersect"] += node.simpleString(_MAX_FIELDS).count(
            "array_intersect("
        )
        # innerChildren: a physical node's subqueries, a cache scan's relation
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.innerChildren()))
    return counts


def build_row(spark, name: str, sf_dir: str):
    """Build registry query ``name`` (without executing it) and return
    ``(DataFrame, row)``. Call :func:`warm_schemas` once first."""
    from the_movie_database_import_spark.plans import REGISTRY

    before = job_ids(spark)
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    build_jobs = len(job_ids(spark) - before)
    return df, {"build_jobs": build_jobs, **plan_counts(df)}


def row_diffs(name: str, want: dict, got: dict) -> list[str]:
    """One line per column whose live value differs from the manifest;
    a null manifest cell is not compared."""
    return [
        f"{name}.{col}: manifest {want.get(col)} -> live {got.get(col)}"
        for col in COLUMNS
        if not (col in want and want[col] is None) and want.get(col) != got.get(col)
    ]


def load() -> dict:
    with open(MANIFEST) as f:
        return json.load(f)


def dump(manifest: dict) -> str:
    """JSON with one query row per line, so a changed row is a one-line diff."""
    rows = manifest["rows"]
    lines = [
        f"    {json.dumps(n)}: {json.dumps(rows[n])}" for n in sorted(rows)
    ]
    return (
        "{\n"
        f'  "scale": {json.dumps(manifest["scale"])},\n'
        f'  "columns": {json.dumps(list(COLUMNS))},\n'
        '  "rows": {\n' + ",\n".join(lines) + "\n  }\n}\n"
    )


def main() -> None:
    from conftest import SF_DIR  # the suite's data directory

    from the_movie_database_import_spark.plans import REGISTRY
    from the_movie_database_import_spark.session import get_spark

    spark = get_spark("plan-manifest")
    spark.sparkContext.setLogLevel("ERROR")
    warm_schemas(spark, SF_DIR)
    rows = {}
    for name in sorted(REGISTRY):
        row = build_row(spark, name, SF_DIR)[1]
        rows[name] = {**row, **dict.fromkeys(UNPINNED.get(name, ()))}
    with open(MANIFEST, "w") as f:
        f.write(dump({"scale": scale(SF_DIR), "rows": rows}))


if __name__ == "__main__":
    # run as a script, tools/ is on the path, not the repo or tests/
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    main()
