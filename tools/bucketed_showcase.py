#!/usr/bin/env python
"""Bucketed-fact showcase (VERDICT r03 #4): prove the documented 100 TB
answer for the flagship star join END-TO-END, not just in a unit plan test.

The headline `q_flagship_star_revenue` reads raw parquet, so its
lineitem ⋈ orders equi-join shuffles both sides on orderkey every run. The
100 TB strategy is to pay that shuffle ONCE at ingest: write both facts
bucketed (and sorted) by orderkey, and every later orderkey join is a
co-located, shuffle-free sort-merge join. This script measures both plans
over the SAME logical query (`flagship_star_revenue_over`) at sf0.1:

1. writes lineitem + orders with `write_bucketed` (16 buckets, orderkey),
2. asserts the bucketed plan has NO Exchange on orderkey and the raw plan
   has one (the claim, pinned at runtime),
3. verifies both variants return identical rows,
4. times both (median of 3 after an untimed warmup, same methodology as
   bench.py — execution into the noop sink),
5. prints one JSON line with the timings + plan facts.

Run: PYTHONPATH=/root/repo python tools/bucketed_showcase.py [sf_dir]
The one-time bucketed-write cost is also reported: at cluster scale it is
the ingest shuffle you were already paying, amortized over every downstream
orderkey join/aggregation.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from the_movie_database_import_spark.plans.relational import (  # noqa: E402
    flagship_star_revenue_over,
)
from the_movie_database_import_spark.session import get_spark  # noqa: E402
from the_movie_database_import_spark.sources.readers import load_table  # noqa: E402
from the_movie_database_import_spark.sources.writers import write_bucketed  # noqa: E402

N_BUCKETS = 16
PASSES = 3


def median_time(build, passes: int = PASSES) -> float:
    build().write.format("noop").mode("overwrite").save()  # warmup
    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("bucketed-showcase")
    spark.sparkContext.setLogLevel("ERROR")
    # Model the cluster reality this showcase is about: at 100 TB neither
    # fact side of lineitem ⋈ orders fits a broadcast (at sf0.1 AQE would
    # happily broadcast the 150k-row orders side, hiding the shuffle the
    # bucketing removes). The explicit broadcast() hint on the customer
    # DIMENSION still applies — that broadcast is legitimate at any scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    with tempfile.TemporaryDirectory() as tmp:
        t0 = time.perf_counter()
        write_bucketed(
            lineitem, "li_showcase", f"{tmp}/li",
            bucket_by=["l_orderkey"], n_buckets=N_BUCKETS, sort_by=["l_orderkey"],
        )
        write_bucketed(
            orders, "ord_showcase", f"{tmp}/ord",
            bucket_by=["o_orderkey"], n_buckets=N_BUCKETS, sort_by=["o_orderkey"],
        )
        ingest_s = time.perf_counter() - t0
        try:
            def raw():
                return flagship_star_revenue_over(lineitem, orders, customer)

            def bucketed():
                return flagship_star_revenue_over(
                    spark.table("li_showcase"), spark.table("ord_showcase"), customer
                )

            def orderkey_exchanges(df) -> int:
                plan = df._jdf.queryExecution().executedPlan().toString()
                return sum(
                    plan.count(f"Exchange hashpartitioning({k}")
                    for k in ("l_orderkey", "o_orderkey")
                )

            raw_x, buck_x = orderkey_exchanges(raw()), orderkey_exchanges(bucketed())
            assert raw_x >= 1, "raw plan unexpectedly shuffle-free"
            assert buck_x == 0, "bucketed plan still shuffles on orderkey"

            want = [tuple(r) for r in raw().collect()]
            got = [tuple(r) for r in bucketed().collect()]
            assert want == got, "bucketed variant changed results"

            raw_s = median_time(raw)
            buck_s = median_time(bucketed)
        finally:
            spark.sql("DROP TABLE IF EXISTS li_showcase")
            spark.sql("DROP TABLE IF EXISTS ord_showcase")

    print(json.dumps({
        "metric": "flagship_bucketed_showcase",
        "sf_dir": sf_dir,
        "raw_parquet_sec": round(raw_s, 4),
        "bucketed_sec": round(buck_s, 4),
        "speedup": round(raw_s / buck_s, 3),
        "one_time_bucketed_write_sec": round(ingest_s, 4),
        "orderkey_exchanges_raw": raw_x,
        "orderkey_exchanges_bucketed": buck_x,
        "n_buckets": N_BUCKETS,
        "passes": PASSES,
    }))


if __name__ == "__main__":
    main()
