#!/usr/bin/env python
"""Small-file compaction showcase: measure what the fragmentation tax
actually costs a scan, end-to-end, and what `compact_small_files` buys
back.

Writes the sf0.1 lineitem as a 512-file fragmented layout, times a
filtered aggregate over it (median of 3 after warmup, bench.py
methodology), compacts in place, re-times the identical query, and
verifies the result is unchanged. The recorded quantities are the
per-layout wall times, task counts (the per-file overhead made visible),
and the compaction cost itself.

Honest-scale note printed with the numbers: at sf0.1 the whole table is
~50 MB and the OS page cache hides the IO; the measurable tax here is
Spark's per-file task/scheduling overhead, which is the same overhead
that multiplies at 100 TB — where millions of small files also add
listing RPCs and footer reads the local FS doesn't model.

Run: PYTHONPATH=/root/repo python tools/compaction_showcase.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FRAGMENTS = 512


def main() -> None:
    from pyspark.sql import functions as F

    from bench import drained_read
    from perfbench.spans import StatusStore
    from the_movie_database_import_spark.session import get_spark
    from the_movie_database_import_spark.sources.writers import (
        compact_small_files,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("compaction-showcase")
    spark.sparkContext.setLogLevel("ERROR")
    store = StatusStore(spark)

    tmp = tempfile.mkdtemp(prefix="compaction_showcase_")
    path = f"{tmp}/lineitem"
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
            N_FRAGMENTS
        ).write.parquet(path)

        def query():
            return (
                spark.read.parquet(path)
                .filter(F.col("l_quantity") < 10)
                .groupBy("l_returnflag")
                # decimal-lane sum: a raw double sum is addition-order-
                # dependent, so ANY re-layout changes its last bits — the
                # engine's own determinism rule, demonstrated here by the
                # showcase's first draft tripping its own equality check
                .agg(
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                    .alias("s"),
                    F.count("*").alias("n"),
                )
            )

        def timed() -> tuple[float, int]:
            query().write.format("noop").mode("overwrite").save()  # warmup
            walls, tasks = [], []
            for _ in range(3):
                drained_read(spark, store)
                t0 = time.perf_counter()
                query().write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                tasks.append(drained_read(spark, store)["spark.tasks"])
            return statistics.median(walls), int(statistics.median(tasks))

        before_rows = sorted(map(tuple, query().collect()))
        frag_sec, frag_tasks = timed()

        t0 = time.perf_counter()
        stats = compact_small_files(spark, path, target_file_bytes=256 * 2**20)
        compact_sec = time.perf_counter() - t0
        # a fresh reader after the swap (no stale file-index caches)
        spark.catalog.clearCache()

        comp_sec, comp_tasks = timed()
        after_rows = sorted(map(tuple, query().collect()))
        assert after_rows == before_rows, "compaction changed query results"

        print(
            json.dumps(
                {
                    "metric": "compaction_showcase",
                    "sf_dir": sf_dir,
                    "files_before": stats["files_before"],
                    "files_after": stats["files_after"],
                    "rows": stats["rows"],
                    "fragmented_sec": round(frag_sec, 4),
                    "fragmented_tasks": frag_tasks,
                    "compacted_sec": round(comp_sec, 4),
                    "compacted_tasks": comp_tasks,
                    "speedup": round(frag_sec / comp_sec, 2),
                    "compaction_cost_sec": round(compact_sec, 2),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
