"""The three workloads and the calls each makes into the program.

Each workload exposes ``verify_rep`` (one untimed repetition whose outputs
are digested and checked) and ``rep`` (one timed repetition). Both return
the set of operations that raised; an operation is one table write (``etl``)
or one query execution (``headline``, ``iterative``).
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

from verify import digest, parquet_digest

# Input sizes per scale. ``bench`` is what the benchmark measures; ``tiny``
# is the smoke-test scale.
SCALES = {
    "bench": {"tier": {"sf": 0.01}, "tmdb": {"movies": 5000, "ratings": 500_000}},
    "tiny": {"tier": {"sf": 0.001}, "tmdb": {"movies": 300, "ratings": 5000}},
}

ITERATIVE = ["q_pipeline_end_to_end", "q_graph_pagerank", "q_dedup_savings_minhash"]
LSH_QUERY = "q_dedup_minhash_lsh"


@dataclass
class Ctx:
    """What a repetition needs: the session, the traced-run hooks, the
    inputs, and where outputs may go."""

    spark: object
    tracer: object
    store: object | None   # StatusStore in traced repetitions, else None
    inputs: str
    out_dir: str
    layer: dict = field(default_factory=dict)  # per-rep layer counters

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value


class QueryWorkload:
    """One pass over a fixed list of registry queries, each built, planned
    and executed into the ``noop`` sink."""

    kind = "tier"

    def __init__(self, queries: list[str]):
        self.queries = queries

    def ops(self) -> list[str]:
        return list(self.queries)

    def verify_rep(self, ctx: Ctx, digests: dict) -> set[str]:
        """Collect each query's result once; digest time is not the
        program's and is returned in ``ctx.layer['digest_s']``."""
        from the_movie_database_import_spark.plans import REGISTRY

        failed = set()
        for q in self.queries:
            try:
                table = REGISTRY[q].spark_fn(ctx.spark, ctx.inputs).toArrow()
            except Exception as e:  # a failing query is a failed operation
                print(f"{q} failed: {e!r}"[:500], file=sys.stderr, flush=True)
                failed.add(q)
                continue
            t0 = time.perf_counter()
            digests[q] = digest(table)
            ctx.add("digest_s", time.perf_counter() - t0)
        return failed

    def rep(self, ctx: Ctx) -> set[str]:
        from the_movie_database_import_spark.plans import REGISTRY

        failed = set()
        tr, store = ctx.tracer, ctx.store
        for q in self.queries:
            try:
                with tr.span("query", query=q) as qs:
                    exec0 = store.max_execution() if store and q == LSH_QUERY else None
                    with tr.span("plans.build", query=q) as sp:
                        job0 = store.max_job() if store else 0
                        df = REGISTRY[q].spark_fn(ctx.spark, ctx.inputs)
                        if store:
                            sp.attrs["jobs"] = store.max_job() - job0
                            ctx.add("plans.build_jobs", sp.attrs["jobs"])
                    if store:
                        with tr.span("plans.catalyst", query=q):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("plans.exec", query=q):
                        df.write.format("noop").mode("overwrite").save()
                    if store:
                        counts = store.read()
                        qs.attrs.update(counts)
                        for k, v in counts.items():
                            ctx.add(k, v)
                        if exec0 is not None:
                            cand, kept = store.join_filter_rows(exec0)
                            qs.attrs.update(lsh_candidates=cand, lsh_verified=kept)
                            ctx.add("operators.lsh_candidates", cand)
                            ctx.add("operators.lsh_verified", kept)
            except Exception as e:  # a failing query is a failed operation
                print(f"{q} failed: {e!r}"[:500], file=sys.stderr, flush=True)
                failed.add(q)
        return failed


class EtlWorkload:
    """The 4-CSV → 15-table build, every returned table written to parquet
    under a fresh directory per repetition."""

    kind = "tmdb"

    def ops(self) -> list[str]:
        from the_movie_database_import_spark.etl.pipeline import OUTPUT_TABLES

        return list(OUTPUT_TABLES) + ["crew_by_job"]

    def verify_rep(self, ctx: Ctx, digests: dict) -> set[str]:
        failed = self.rep(ctx)
        t0 = time.perf_counter()
        digests.update(self.digest_outputs(ctx.out_dir, failed))
        ctx.add("digest_s", time.perf_counter() - t0)
        return failed

    def digest_outputs(self, out_dir: str, failed: set[str]) -> dict:
        return {
            name: parquet_digest(os.path.join(out_dir, name))
            for name in self.ops()
            if name not in failed and os.path.isdir(os.path.join(out_dir, name))
        }

    def rep(self, ctx: Ctx) -> set[str]:
        from the_movie_database_import_spark.etl.pipeline import build_all_tables
        from the_movie_database_import_spark.sources.writers import write_parquet_partitioned

        tr, store = ctx.tracer, ctx.store
        with tr.span("etl.build"):
            tables = build_all_tables(ctx.spark, ctx.inputs)
        failed = set(self.ops()) - set(tables)
        first = True
        for name, df in tables.items():
            try:
                with tr.span("sources.write", table=name) as sp:
                    t0 = time.perf_counter()
                    write_parquet_partitioned(df, os.path.join(ctx.out_dir, name))
                    dt = time.perf_counter() - t0
                    if store:
                        counts = store.read()
                        sp.attrs.update(counts)
                        for k, v in counts.items():
                            ctx.add(k, v)
                ctx.add("sources.write_s", dt)
                if first:
                    ctx.add("etl.first_write_s", dt)
                    first = False
            except Exception as e:  # a failing write is a failed operation
                print(f"{name} failed: {e!r}"[:500], file=sys.stderr, flush=True)
                failed.add(name)
        return failed


WORKLOADS = {
    "etl": EtlWorkload,
    "headline": lambda: QueryWorkload(_headline()),
    "iterative": lambda: QueryWorkload(ITERATIVE),
}


def _headline() -> list[str]:
    from the_movie_database_import_spark.plans import REGISTRY

    return [n for n, s in sorted(REGISTRY.items()) if s.headline]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
