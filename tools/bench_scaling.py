"""Scale-linearity evidence for the heavy-hitter operators (VERDICT r06
#5): fuzzy edit-1 matching, paragraph dedup, substring-span dedup, and
BM25 all claim LINEAR cost shapes — measure them at sf0.01, sf0.1, and a
synthetic ~3x sf0.1 ("sf0.3") and report rows/s at each point so
BASELINE.md can state the three-point table.

The sf0.3 tables are derived deterministically from sf0.1 (cached in
/tmp): three copies with disjoint id ranges. Customer names get their
first two characters REPLACED by a per-copy two-letter tag so cross-copy
name pairs sit at Levenshtein distance >= 2 — the fuzzy operator's
OUTPUT then scales linearly (3x the per-copy pairs) instead of
quadratically in the copy count, which is the workload shape a 3x-larger
real corpus has. Replacement, NOT a prefix, and that matters (r08
profiling): the r07 generator PREPENDED "aa " etc., making every sf0.3
name 3 chars (~17%) longer than its sf0.1 twin, which inflated the
deletion-variant count per row (len+1 variants) to 3.40x and the
O(len_a x len_b) Levenshtein DP per candidate by ~1.36x — the whole
"3.88x CPU at 3x rows" superlinearity was this length artifact, not the
plan: the candidate stream itself measured EXACTLY 3.00x (raw variant
join output 977,500 -> 2,932,500 pairs). Length-preserving copies make
the measured growth reflect genuine workload scaling. Documents are
copied verbatim (id-remapped): the paragraph/span/BM25 operators' cost
is driven by exploded-unit volume and per-doc aggregation, both linear
in input rows regardless of cross-copy duplication.

Usage: python tools/bench_scaling.py
Prints one JSON line: {op: {scale: {rows, sec, cpu_sec, rows_per_sec}}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
# v2: length-preserving customer-name tags (the v1 cache holds prefixed,
# longer names — a different workload; never mix the two in one table)
SYNTH = "/tmp/spark_graft_sf0.3_v2"
COPIES = 3
PASSES = 3


def build_synth(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(f"{SYNTH}/_built"):
        return
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    cust = spark.read.parquet(f"{SF01}/customer.parquet")
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    prefixes = ["aa", "bb", "cc"]
    doc_parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * 10_000_000))
        for k in range(COPIES)
    ]
    cust_parts = [
        cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(k * 10_000_000))
        # length-preserving per-copy tag: REPLACE the first two chars (see
        # module docstring — a prepended tag lengthened names and faked
        # superlinear fuzzy CPU)
        .withColumn(
            "c_name",
            F.concat(F.lit(prefixes[k]), F.expr("substring(c_name, 3)")),
        )
        for k in range(COPIES)
    ]
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    c = cust_parts[0]
    for p in cust_parts[1:]:
        c = c.unionByName(p)
    d.write.mode("overwrite").parquet(f"{SYNTH}/documents.parquet")
    c.write.mode("overwrite").parquet(f"{SYNTH}/customer.parquet")
    # events: id- and user-remapped copies (timestamps verbatim) — per-user
    # streams triple in COUNT, not in per-user length, the shape a 3x
    # corpus has; hash-weight ops draw fresh md5 weights per remapped id
    ev_parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(k * 10_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(k * 10_000_000))
        for k in range(COPIES)
    ]
    e = ev_parts[0]
    for p_ in ev_parts[1:]:
        e = e.unionByName(p_)
    e.write.mode("overwrite").parquet(f"{SYNTH}/events.parquet")
    open(f"{SYNTH}/_built", "w").write("ok")


def main() -> None:
    from pyspark.sql import functions as F

    from bench import drained_read
    from perfbench.spans import StatusStore
    from the_movie_database_import_spark.operators.dedup import (
        dedup_paragraphs,
        dedup_substring_spans,
    )
    from the_movie_database_import_spark.operators.analytics import (
        event_transitions,
    )
    from the_movie_database_import_spark.operators.fuzzy import fuzzy_pairs_edit1
    from the_movie_database_import_spark.operators.stats import bootstrap_se_mean
    from the_movie_database_import_spark.operators.ranking import bm25_topk
    from the_movie_database_import_spark.plans.analytics import BM25_TERMS
    from the_movie_database_import_spark.session import get_spark, release_caches

    load_before = os.getloadavg()
    spark = get_spark("tmdb-spark-bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    build_synth(spark)
    store = StatusStore(spark)

    def docs_at(d):
        return spark.read.parquet(f"{d}/documents.parquet")

    def cust_at(d):
        return spark.read.parquet(f"{d}/customer.parquet").select(
            F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
        )

    def events_at(d):
        return spark.read.parquet(f"{d}/events.parquet")

    OPS = {
        "fuzzy_pairs_edit1": (cust_at, lambda df: fuzzy_pairs_edit1(df, "id", "name")),
        "bootstrap_se_mean": (
            events_at,
            lambda df: bootstrap_se_mean(df, "event_type", "value", "event_id"),
        ),
        "event_transitions": (events_at, event_transitions),
        "dedup_paragraphs": (docs_at, lambda df: dedup_paragraphs(df, sep=" the ")),
        "dedup_substring_spans": (docs_at, lambda df: dedup_substring_spans(df, k=8)),
        "bm25_topk": (docs_at, lambda df: bm25_topk(df, BM25_TERMS, k=10)),
    }
    SCALES = [("sf0.01", SF001), ("sf0.1", SF01), ("sf0.3", SYNTH)]

    out: dict[str, dict[str, dict[str, float]]] = {}
    for op, (loader, build) in OPS.items():
        out[op] = {}
        for scale, d in SCALES:
            src = loader(d)
            n = src.count()

            def run():
                build(loader(d)).write.format("noop").mode("overwrite").save()
                release_caches()

            run()  # warmup
            walls, cpus = [], []
            for _ in range(PASSES):
                drained_read(spark, store)
                t0 = time.perf_counter()
                run()
                walls.append(time.perf_counter() - t0)
                cpus.append(drained_read(spark, store)["spark.executor_cpu_s"])
            sec = statistics.median(walls)
            out[op][scale] = {
                "rows": n,
                "sec": round(sec, 4),
                "cpu_sec": round(statistics.median(cpus), 4),
                "rows_per_sec": round(n / sec, 1),
            }
    print(
        json.dumps(
            {
                "metric": "scaling_linearity",
                "ops": out,
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
