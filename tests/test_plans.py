"""Physical-plan regression tests: the scale-critical plan shapes the engine
relies on must survive refactors (SURVEY.md §4 — these are the properties a
100 TB run depends on; checked here at test scale via explain())."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR

from the_movie_database_import_spark.plans import REGISTRY
from tools.plan_manifest import job_ids


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims_and_prunes_scan(spark):
    plan = _plan(spark, "q_flagship_star_revenue")
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan
    # Column pruning must reach the lineitem parquet scan: only the join key
    # and the two money columns.
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, "no pruned lineitem ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}, cols


def test_multiway_star_all_dims_broadcast(spark):
    plan = _plan(spark, "q_join_multiway_star")
    assert plan.count("BroadcastHashJoin") >= 3, (
        "customer/nation/region dims must all broadcast"
    )


@pytest.mark.parametrize(
    "name", ["q_dedup_minhash_lsh", "q_dedup_minhash_incremental"]
)
def test_lsh_verification_single_intersect(spark, name):
    """The pushdown barrier keeps array_intersect at exactly one occurrence
    per verify leg (the incremental query has two: the corpus probe and
    the within-batch self-join); regressions reintroduce 3x evaluation via
    join-condition substitution."""
    legs = 2 if name == "q_dedup_minhash_incremental" else 1
    plan = _plan(spark, name)
    assert plan.count("array_intersect") == legs, (
        f"array_intersect appears {plan.count('array_intersect')}x — "
        "the jaccard filter was pushed into the join condition again"
    )


def test_json_fns_single_parse(spark):
    """q_json_fns must parse each props value exactly once (one from_json
    struct), never the 3x get_json_object re-parse it replaced."""
    plan = _plan(spark, "q_json_fns")
    assert plan.count("from_json") == 1, plan.count("from_json")
    assert "get_json_object" not in plan


def test_tracked_caches_released_on_next_query(spark):
    """Engine caches (minhash collapse, ETL parse reuse) must not accumulate
    across a registry sweep: invoking any registry query releases the
    previous query's tracked caches, and release_caches() empties the
    engine's registry entirely (VERDICT r01 #8).

    Asserts on the ENGINE's own tracked handles (``_TRACKED``, which
    holds caches and result checkpoints alike) and their ``storageLevel``
    — never on a JVM-wide ``getPersistentRDDs()`` count, which races
    foreign async unpersists (MLlib KMeans internals, ContextCleaner-driven
    localCheckpoint frees) in a shared test session and made this test
    flaky under host load (VERDICT r05 #1)."""
    from the_movie_database_import_spark import session as eng_session

    def _is_cached(df) -> bool:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    eng_session.release_caches()
    assert eng_session._TRACKED == [], "registry must start empty"

    REGISTRY["q_dedup_minhash_lsh"].spark_fn(spark, SF_DIR).count()
    held = list(eng_session._TRACKED)
    assert held, "minhash should register tracked caches"
    assert all(_is_cached(df) for df in held), "tracked frames must be cached"

    # next query's invocation releases the minhash caches before running
    REGISTRY["q_filter_pred"].spark_fn(spark, SF_DIR).count()
    assert eng_session._TRACKED == [], "previous caches must be freed"
    # release_caches() is blocking=True, so the handles we captured are
    # uncached the moment the registry wrapper returns — no settle-wait.
    assert not any(_is_cached(df) for df in held), (
        "released frames still report a storage level"
    )
    assert eng_session.release_caches() == 0, (
        "no caches should remain tracked after the sweep"
    )


def test_corpus_curation_single_shuffle_no_python(spark):
    """The composed curation pipeline (quality score -> lang filter ->
    canonical dedup flag) must stay one fused scan-side projection plus
    exactly one hash exchange — now the map-side-combined canonical-digest
    winner AGGREGATE (skew-proof: a boilerplate text duplicated 10^6 times
    combines map-side instead of funneling into one window partition) —
    with zero Python stages and no content-partitioned window."""
    plan = _plan(spark, "q_corpus_curation")
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("_ckey"), groups
    assert "windowspecdefinition" not in plan, "content window crept back"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_salted_join_spreads_skewed_key(spark):
    """The salted join must shuffle on (event_type, _salt) — a hot key
    occupies n_salts partitions instead of one — and must NOT broadcast
    (salting exists for the non-broadcastable case)."""
    plan = _plan(spark, "q_join_salted_skew")
    assert "BroadcastHashJoin" not in plan, "salted join must not broadcast"
    # The plan also contains aggregation exchanges on event_type alone;
    # require that SOME exchange partitions on the join key AND the salt,
    # regardless of exchange ordering in the plan string.
    groups = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in g and "event_type" in g for g in groups), (
        f"no exchange partitions on (event_type, _salt): {groups}"
    )


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q_filter_pred")
    # (plan toString truncates long filter lists, so match the head only)
    assert "PushedFilters: [IsNotNull" in plan, "no filters pushed to the scan"
    assert "PushedFilters: []" not in plan


def test_topk_per_group_single_shuffle(spark):
    """Per-group top-k is one hash-partition exchange on the group key plus
    the final order; no repeated shuffles of the full input."""
    plan = _plan(spark, "q_topk_per_group")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"{n_exchanges} hash exchanges (expected <=2)"


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located fact-to-fact join: both sides bucketed on the join key at
    write time → the join plan contains NO Exchange (the 100 TB strategy for
    lineitem ⋈ orders; the shuffle is paid once at ingest, not per query)."""
    from the_movie_database_import_spark.sources.readers import load_table
    from the_movie_database_import_spark.sources.writers import write_bucketed

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    try:
        write_bucketed(
            li, "li_bucketed", str(tmp_path / "li"),
            bucket_by=["l_orderkey"], n_buckets=8, sort_by=["l_orderkey"],
        )
        write_bucketed(
            orders, "ord_bucketed", str(tmp_path / "ord"),
            bucket_by=["o_orderkey"], n_buckets=8, sort_by=["o_orderkey"],
        )
        # Disable broadcast so the plan exercises the co-located merge path
        # (at real fact-to-fact scale neither side broadcasts anyway).
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("li_bucketed").join(
                spark.table("ord_bucketed"),
                spark.table("li_bucketed").l_orderkey
                == spark.table("ord_bucketed").o_orderkey,
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            assert "SortMergeJoin" in plan
            # sanity: the join actually produces the right cardinality
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_flagship_matches_registered_query(spark, tmp_path):
    """The flagship star join over orderkey-bucketed facts: the same
    `flagship_star_revenue_over` plan the registered headline query builds
    over raw parquet returns the same rows, and the lineitem ⋈ orders join
    shuffles neither side on orderkey — the shuffle was paid at ingest.
    Broadcast is off so the fact join plans as at 100 TB, where neither
    side fits one; the explicit customer hint still broadcasts."""
    from the_movie_database_import_spark.plans.relational import (
        flagship_star_revenue_over,
    )
    from the_movie_database_import_spark.sources.readers import load_table
    from the_movie_database_import_spark.sources.writers import write_bucketed

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")

    def orderkey_exchanges(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            plan.count(f"Exchange hashpartitioning({k}")
            for k in ("l_orderkey", "o_orderkey")
        )

    registered = REGISTRY["q_flagship_star_revenue"].spark_fn(spark, SF_DIR)
    want = [tuple(r) for r in registered.collect()]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(
            li, "li_flagship", str(tmp_path / "li"),
            bucket_by=["l_orderkey"], n_buckets=8, sort_by=["l_orderkey"],
        )
        write_bucketed(
            orders, "ord_flagship", str(tmp_path / "ord"),
            bucket_by=["o_orderkey"], n_buckets=8, sort_by=["o_orderkey"],
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        raw = flagship_star_revenue_over(li, orders, customer)
        bucketed = flagship_star_revenue_over(
            spark.table("li_flagship"), spark.table("ord_flagship"), customer
        )
        assert orderkey_exchanges(raw) >= 1, "raw plan unexpectedly shuffle-free"
        assert orderkey_exchanges(bucketed) == 0, (
            "bucketed plan still shuffles on orderkey"
        )
        assert [tuple(r) for r in bucketed.collect()] == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_flagship")
        spark.sql("DROP TABLE IF EXISTS ord_flagship")


def test_spans_incremental_bucketed_side_no_exchange(spark, tmp_path):
    """The incremental span-dedup probe's corpus side must NOT shuffle when
    the gram-digest side table is bucketed on the digest (VERDICT r07 #4):
    the operator trusts the side table's distinctness (no defensive
    re-aggregation), so the only operations on that branch are scan ->
    project(alias) -> sort-merge probe, and the bucketed scan's
    HashPartitioning(gram_digest) satisfies the join's distribution through
    the alias. Pinned as: no ``Exchange hashpartitioning(_seen_h...)``
    anywhere in the plan — every other exchange in the operator keys on the
    batch-side ``_h``/doc-id columns."""
    from the_movie_database_import_spark.operators.dedup import (
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )
    from the_movie_database_import_spark.sources.readers import load_table
    from the_movie_database_import_spark.sources.writers import write_bucketed

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        write_bucketed(
            substring_gram_digests(corpus, k=20),
            "seen_grams_bkt",
            str(tmp_path / "grams"),
            bucket_by=["gram_digest"],
            n_buckets=8,
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        # disable broadcast so the probe exercises the co-located merge path
        # (at 100 TB the side table is corpus-scale and never broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = dedup_substring_spans_incremental(
                batch, spark.table("seen_grams_bkt"), k=20
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert not re.search(r"Exchange hashpartitioning\(_seen_h", plan), (
                f"bucketed gram side table still shuffles:\n{plan}"
            )
            # sanity: the probe actually runs on the bucketed table
            assert out.count() == batch.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_grams_bkt")


def test_minhash_incremental_no_corpus_shuffle(spark, tmp_path):
    """The incremental MinHash probe's corpus side must never shuffle
    (VERDICT r10 #2): the side table scans, explodes its band array
    in-map, and streams through a BroadcastHashJoin against the
    broadcast NEW batch — the cross-probe plan contains no hash exchange
    at all (the only shuffles the full operator performs belong to the
    within-batch self-join over NEW rows, excluded here)."""
    from the_movie_database_import_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs_incremental,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    minhash_band_signatures(corpus, threshold=0.8).write.parquet(
        str(tmp_path / "bands")
    )
    side = spark.read.parquet(str(tmp_path / "bands"))
    out = minhash_lsh_pairs_incremental(
        batch, side, threshold=0.8, include_within_batch=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"Exchange hashpartitioning", plan), (
        f"corpus-side probe must not shuffle:\n{plan}"
    )
    out.count()  # executes end-to-end on the persisted side table


def test_range_join_binned_avoids_nested_loop(spark):
    """The keyless range join must plan as a partitionable equi-join on bin
    ids — never a nested-loop or cartesian product."""
    plan = _plan(spark, "q_join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cosine_neardup_lsh_joins_on_subbucket(spark):
    """VERDICT r02 #2 done-criterion: the scaled embedding near-dup variant
    must shuffle on the LSH sub-bucket, not on the block alone — no
    unbounded within-block all-pairs join survives in the plan."""
    plan = _plan(spark, "q_dedup_embedding_cosine_lsh")
    # At test scale the tiny build side broadcasts; at cluster scale the same
    # keys become the shuffle partitioning. Either way the EQUI-JOIN KEYS must
    # include the sub-bucket, which is what bounds per-task pair work.
    keys = re.findall(
        r"(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[([^\]]*)\]", plan
    )
    assert any("band_val" in k and "block" in k for k in keys), (
        f"join keys must include (block, ..., band_val): {keys}"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fan_out_never_touches_rdd(spark, monkeypatch):
    """VERDICT r04 #6: the split probe must be driver-side metadata only —
    no plan→RDD conversion. Poison DataFrame.rdd and exercise both branches
    (small scan fans out; already-parallel estimate is a no-op)."""
    from pyspark.sql import DataFrame
    from the_movie_database_import_spark.sources.readers import (
        _estimated_scan_splits,
        fan_out,
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents")
    assert _estimated_scan_splits(docs) >= 1

    def boom(self):
        raise AssertionError("fan_out accessed df.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    fanned = fan_out(docs)
    monkeypatch.undo()
    target = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == target
    # a frame whose estimated splits already meet the target is returned as-is
    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    assert fan_out(docs, min_partitions=1) is docs


def test_split_estimate_gzip_counts_one_per_file(spark, tmp_path):
    """ADVICE r05 #1: a large .jsonl.gz scans as ONE partition (gzip is not
    splittable for text), so the estimate must count it as one split — not
    ceil(size/maxPartitionBytes) — or fan_out skips the repartition and the
    downstream stages run serial."""
    from the_movie_database_import_spark.sources.readers import (
        _estimated_scan_splits,
        fan_out,
        scan_jsonl,
    )
    import gzip
    import json

    # Big enough that bytes/maxPartitionBytes would estimate many splits.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536b")
    try:
        path = tmp_path / "dump.jsonl.gz"
        with gzip.open(path, "wt") as fh:
            import hashlib

            for i in range(2000):
                # incompressible payload so the .gz itself exceeds the limit
                blob = hashlib.sha256(str(i).encode()).hexdigest() * 2
                fh.write(json.dumps({"doc_id": i, "text": blob}) + "\n")
        assert path.stat().st_size > 65536  # size-based estimate would be >1
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        df = scan_jsonl(spark, str(path), schema)
        assert _estimated_scan_splits(df) == 1
        target = spark.sparkContext.defaultParallelism
        assert fan_out(df).rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")


def test_split_estimate_local_relation_uses_partition_count(spark):
    """ADVICE r05 #2: an in-memory relation has no inputFiles; the estimate
    must fall back to the frame's actual partition count so composed
    operators that each call fan_out don't re-shuffle an already-wide
    frame — fan_out(fan_out(df)) must be a no-op the second time."""
    from the_movie_database_import_spark.sources.readers import (
        _estimated_scan_splits,
        fan_out,
    )

    df = spark.range(0, 1000)  # local relation: inputFiles() == []
    assert _estimated_scan_splits(df) == df.rdd.getNumPartitions()
    fanned = fan_out(df, min_partitions=8)
    assert fan_out(fanned, min_partitions=8) is fanned


def test_sql_shared_text_decorrelates_to_semi_join(spark):
    """The SQL front door's correlated EXISTS must decorrelate into a
    left-semi hash join on the order key with the date predicate as join
    condition — the plan a hand-written semi-join produces, so the SQL
    surface costs nothing over the DataFrame API."""
    plan = (
        REGISTRY["q_sql_shared_text"]
        .spark_fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan
    assert "ExistenceJoin" not in plan and "CartesianProduct" not in plan, plan


def test_pipeline_end_to_end_plan_shape(spark):
    """The nine-stage daily composite, pinned in its two r13 halves. The
    span-deduped increment is an eager localCheckpoint (the r13
    plan-truncation midpoint), so the COMPOSITE plan shows the back half
    (decontaminate -> ... -> packing -> census) reading a LogicalRDD: pin
    the decontamination joins, the packing window, and the
    no-python/no-cartesian invariants there. The gram probe broadcasts in
    the static plan; the anti-join's id set is an aggregate over the
    stats-less checkpoint, so the static plan shuffles it and AQE
    broadcasts it once its observed size is known. The PROLOGUE (delta ->
    incremental dedup -> span dedup) is pinned on its own executed plan:
    the deduped increment is an eager localCheckpoint (r14 — it was a
    cache in r13; the checkpoint serves the span stage's two reads like
    the cache did AND truncates the delta/dedup subtree out of every
    Catalyst pass over the span stage), and the within-batch winner is a
    min AGGREGATE on the digest (skew-proof), never a digest-partitioned
    window."""
    composite = REGISTRY["q_pipeline_end_to_end"].spark_fn(spark, SF_DIR)
    plan = composite._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan  # gram probe
    composite.collect()
    final = composite._jdf.queryExecution().executedPlan().toString()
    final = final.split("Initial Plan")[0]
    assert "isFinalPlan=true" in final, final
    assert final.count("BroadcastHashJoin") >= 2, final  # gram probe + anti-join
    # the back half reads the materialized span checkpoint, not a replay
    # of the prologue
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "windowspecdefinition(split" in plan, "packing window missing"

    # prologue half: rebuild the same delta -> dedup -> span chain the
    # composite checkpoints, and pin ITS wide-operation shape
    from the_movie_database_import_spark.operators.dedup import (
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )
    from the_movie_database_import_spark.operators.delta import (
        corpus_delta,
        incremental_dedup,
    )
    from the_movie_database_import_spark.operators.sampling import (
        hash_bucket,
        hex_threshold,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    yesterday = docs.filter(bucket < F.lit(hex_threshold(0.9))).select(
        "doc_id", "text"
    )
    today = docs.filter(bucket >= F.lit(hex_threshold(0.1))).select(
        "doc_id", "text"
    )
    delta = corpus_delta(yesterday, today)
    increment = today.join(
        delta.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
    )
    seen = yesterday.select(F.sha2(F.col("text"), 256).alias("digest"))
    dd = (
        incremental_dedup(increment, seen).filter("is_kept").select(
            "doc_id", "text"
        )
    ).localCheckpoint()
    seen_grams = substring_gram_digests(yesterday, k=8)
    spans = dedup_substring_spans_incremental(dd, seen_grams, k=8).select(
        "doc_id", "text"
    )
    pro = spans._jdf.queryExecution().executedPlan().toString()
    dd.unpersist()
    assert "CartesianProduct" not in pro and "BroadcastNestedLoopJoin" not in pro
    assert "BatchEvalPython" not in pro and "ArrowEvalPython" not in pro, pro
    # the span stage reads the CHECKPOINTED increment (doc_id, text) twice
    # (gram-occurrence stream + rebuild join), not a prologue replay —
    # the checkpoint appears as a Scan ExistingRDD leaf on both reads
    inc_reads = len(re.findall(r"Scan ExistingRDD\[doc_id#\d+L,text#\d+\]", pro))
    assert inc_reads >= 2, f"increment checkpoint reads: {inc_reads}\n{pro}"
    assert "windowspecdefinition(_digest" not in pro, "digest window crept back"
    assert re.search(r"partial_min\([^)]*doc_id", pro) or re.search(
        r"min\([^)]*doc_id", pro
    ), "within-batch min-id winner aggregate missing"


def test_pipeline_checkpoints_retire(spark):
    """r14: the composite's dd (deduped-increment) checkpoint is retired
    INLINE — its blocks feed exactly the two span-stage reads, both inside
    the spans materialization — so after the build only the spans RESULT
    checkpoint may stay pinned, and release_caches() (the next registry-
    query boundary) reclaims that one as a tracked handle."""
    from the_movie_database_import_spark import session as S

    sc = spark.sparkContext
    S.release_caches()
    before = S.persistent_rdd_ids(sc)
    df = REGISTRY["q_pipeline_end_to_end"].spark_fn(spark, SF_DIR)
    # exactly ONE result checkpoint registered (spans) — dd was retired
    # inline during the build, not deferred to the registry; the other
    # tracked handles are SQL caches
    ckpts = [h for h in S._TRACKED if S._checkpoint_rdd(h) is not None]
    assert len(ckpts) == 1, ckpts
    df.write.format("noop").mode("overwrite").save()
    S.release_caches()
    leftover = S.persistent_rdd_ids(sc) - before
    assert not leftover, f"pipeline checkpoints survived release: {leftover}"


def test_scan_jsonl_parses_and_quarantines(spark, tmp_path):
    """JSONL source: explicit schema, good lines parse, malformed lines
    carry their raw text in _corrupt_record with data columns NULL, and
    the filter that quarantines them is exact."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.sources.readers import scan_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "second"}\n'
        '{"doc_id": "not-a-number", "text": "coerced"}\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = scan_jsonl(spark, str(p), schema)
    rows = df.collect()
    assert len(rows) == 4
    good = {r.doc_id: r.text for r in rows if r._corrupt_record is None}
    assert good == {1: "hello world", 2: "second"}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert "this is not json" in bad[0]
    with pytest.raises(ValueError):
        scan_jsonl(
            spark,
            str(p),
            StructType([StructField("_corrupt_record", StringType())]),
        )


@pytest.mark.parametrize(
    "name", [n for n, s in sorted(REGISTRY.items()) if s.headline]
)
def test_headline_rebuild_starts_no_job(spark, name):
    """Building a headline query starts no Spark job once its tables'
    schemas are cached: the only build-time jobs were parquet schema
    inference, and load_table infers each file version once."""
    REGISTRY[name].spark_fn(spark, SF_DIR)
    before = job_ids(spark)
    REGISTRY[name].spark_fn(spark, SF_DIR)
    assert job_ids(spark) == before


def test_headline_second_pass_compiles_nothing(spark):
    """Spark's codegen cache holds a whole headline pass: the second pass of
    the 16 headline queries into the noop sink compiles no class. Under
    Spark's default of 100 entries each pass compiled ~200 again."""
    from bench import compile_count, select_queries

    def one_pass() -> None:
        for name in select_queries("headline"):
            REGISTRY[name].spark_fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()

    one_pass()
    before = compile_count(spark)
    one_pass()
    assert compile_count(spark) == before


def test_load_table_reinfers_rewritten_file(spark, tmp_path):
    """A file rewritten in place is a new version: the cached schema of the
    MICROS encoding must not be applied to the NANOS rewrite. The second
    read re-infers (one job), a third read hits the cache (no job), and
    both encodings load as identical TIMESTAMP_NTZ instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from the_movie_database_import_spark.sources.readers import load_table

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_idx = src.schema.get_field_index("ts")
    path = tmp_path / "events.parquet"

    def write(unit: str) -> None:
        ts_type = pa.timestamp(unit)
        table = src.set_column(
            ts_idx, pa.field("ts", ts_type), src.column("ts").cast(ts_type)
        )
        pq.write_table(table, path, coerce_timestamps=None)
        assert pq.read_schema(path).field("ts").type.unit == unit

    def instants(df) -> list:
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        return sorted(map(tuple, df.select("event_id", "ts").collect()))

    write("us")
    micros = instants(load_table(spark, str(tmp_path), "events"))
    write("ns")
    before = job_ids(spark)
    nanos = load_table(spark, str(tmp_path), "events")
    assert job_ids(spark) != before, "the rewritten file was not re-inferred"
    before = job_ids(spark)
    load_table(spark, str(tmp_path), "events")
    assert job_ids(spark) == before, "an unchanged file was re-inferred"
    assert instants(nanos) == micros


def test_load_table_schema_follows_binary_as_string(spark, tmp_path):
    """The parquet type-mapping confs are part of the schema-cache key:
    toggling spark.sql.parquet.binaryAsString between two reads of one
    unchanged file changes the column type both ways."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from the_movie_database_import_spark.sources.readers import load_table

    pq.write_table(
        pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "t.parquet"
    )
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        types = []
        for value in ("false", "true", "false"):
            spark.conf.set(key, value)
            types.append(dict(load_table(spark, str(tmp_path), "t").dtypes)["b"])
    finally:
        spark.conf.set(key, old)
    assert types == ["binary", "string", "binary"]


def test_corpus_mix_filters_scan_side(spark):
    """mix_corpus: corpus rows must never shuffle — the only exchange is
    the per-group partial-count aggregate; the rate joins broadcast; the
    corpus is scanned exactly twice (counts + filter), never more (the
    crossJoin formulation re-evaluated the counts subtree per consumer)."""
    plan = _plan(spark, "q_corpus_mix")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert all(g.startswith("lang") for g in groups), groups
    assert len(groups) == 1, groups
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_shuffle_shards_single_exchange(spark):
    """shuffle_shards: exactly one exchange, on the shard key — the
    hash-partition shuffle a sharded write physically requires — and a
    per-shard sort; no global total order (no rangepartitioning)."""
    plan = _plan(spark, "q_shuffle_shards")
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("shard"), groups
    assert "rangepartitioning" not in plan, "global sort crept in"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_paragraphs_agg_not_window_over_text(spark):
    """dedup_paragraphs: the global winner per paragraph must be a hash
    AGGREGATE over (digest, id, pos) triples (map-side combine absorbs a
    boilerplate paragraph repeated 10^9 times) — never a row_number window
    partitioned by paragraph content, which would shuffle every copy of a
    hot paragraph into one partition. Text joins back on the unique doc
    id only."""
    plan = _plan(spark, "q_dedup_paragraphs")
    assert "windowspecdefinition" not in plan, "winner must be an agg, not a window"
    groups = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    # exchanges: the _h partial->final agg, the winner-pairs re-key by id,
    # and the doc-side join key — none on paragraph text
    assert groups and all(g.startswith(("_h", "doc_id")) for g in groups), groups
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_sql_shared_window_single_exchange_rank_filter(spark):
    """The shared-text window query must plan exactly like the DataFrame
    top-k-per-group: the rank predicate stays a post-window filter (one
    segment-keyed exchange for the window; the join broadcasts the
    customer dim), never a cartesian or a python stage."""
    plan = (
        REGISTRY["q_sql_shared_window"]
        .spark_fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, "customer dim must broadcast"
    assert "CartesianProduct" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("c_mktsegment"), groups
    assert "windowspecdefinition(c_mktsegment" in plan


def test_events_funnel_one_user_shuffle_no_self_joins(spark):
    """The funnel must read the event log ONCE and walk stages with the
    in-row fold — the textbook k-stage formulation re-joins the log per
    stage (k scans + k shuffles). Exchanges: the per-user collect_list
    aggregate and the len(stages)-row census; the stage table broadcasts."""
    plan = _plan(spark, "q_events_funnel")
    assert plan.count("Scan parquet") == 1, "event log must be scanned once"
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert sorted(g.split("#")[0] for g in groups) == ["_idx", "user_id"], groups
    assert "BroadcastExchange" in plan  # tiny census joins the literal stages
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_retention_one_user_shuffle_count_not_distinct(spark):
    """Retention: min(day) and the distinct-day set come from the SAME
    per-user aggregate (one event-log scan, one user-keyed exchange); the
    final census is a plain COUNT on (cohort, offset) — never a
    COUNT(DISTINCT) re-expansion of raw events (no Expand node)."""
    plan = _plan(spark, "q_retention_cohorts")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert sorted(g.split("#")[0] for g in groups) == ["cohort_day", "user_id"], groups
    assert "Expand" not in plan, "census must be a plain count, not count-distinct"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_bm25_caches_per_doc_and_heaps_topk(spark):
    """BM25: the per-doc (dl, tf_*) frame feeds two consumers (corpus-stats
    scalar + scoring) and must be CACHED, not recomputed — two
    InMemoryTableScans, so the corpus is tokenized once; top-k must run as
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    plan = _plan(spark, "q_bm25_topk")
    assert plan.count("InMemoryTableScan") >= 2, "per_doc must be cached"
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan, "global sort crept in"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_scd2_single_window_exchange(spark):
    """SCD2: the lag change-point filter and the lead/row_number interval
    builder share partitioning and sort order — ONE user-keyed exchange,
    one event-log scan, no Python stages."""
    plan = _plan(spark, "q_scd2_history")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_sessionize_single_user_exchange(spark):
    """Sessionize: the lag boundary flag and the running session counter
    share one (user)×(ts, event_id) window spec, and the per-session
    rollup groups on a superset of the window's hash keys — so the whole
    query runs on ONE user-keyed exchange, one pruned event scan, and no
    Python stages (SURVEY §4: the sessionizer envelope at 100 TB)."""
    plan = _plan(spark, "q_events_sessionize")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    assert plan.count("Window ") == 2, "lag + running sum, one spec each"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_win_time_range_single_exchange(spark):
    """Trailing time-RANGE frame: both window aggregates share one
    (user)-keyed spec — one exchange, one pruned scan, no Python."""
    plan = _plan(spark, "q_win_time_range")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    assert "RangeFrame" in plan, "must be a RANGE frame, not ROWS"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_resample_daily_caches_panel_one_log_pass(spark):
    """Daily resample: the (user, day) panel feeds two consumers (span
    aggregate + grid join) and must be CACHED — two InMemoryTableScans of
    ONE shared InMemoryRelation, so the raw log is aggregated once. (The
    plan STRING prints the relation's FileScan child under each table
    scan, so parquet-scan counting would double-count; the cache nodes are
    the real pin.)"""
    plan = _plan(spark, "q_resample_daily")
    assert plan.count("InMemoryTableScan") >= 2, "daily panel must be cached"
    assert "InMemoryRelation" in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_value_outliers_broadcasts_fences(spark):
    """Outlier census: the per-group fence table broadcasts back (the
    one-row-stats pattern) — data rows never shuffle for the comparison;
    the only hash exchanges key on the profiling group."""
    plan = _plan(spark, "q_value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert groups and all(g.startswith("event_type") for g in groups), groups
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_token_pair_lift_caches_vocab_no_self_join(spark):
    """A-priori pair census: the corpus-wide item-df table feeds THREE
    consumers (frequent filter, df_a, df_b) and must be cached — three
    InMemoryTableScans, so the corpus explode+agg runs once; pairs are
    generated in-row (broadcast joins only at test SF — never a (doc,
    token) self-join via SortMergeJoin); no Python stages."""
    plan = _plan(spark, "q_token_pair_lift")
    assert plan.count("InMemoryTableScan") >= 3, "item_df must be cached"
    assert "SortMergeJoin" not in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_fk_orphan_audit_unions_one_pass_subtrees(spark):
    """FK audit: K specs compile to K independent LEFT joins against
    distinct parent keys, unioned in-plan — one Union node, left-outer
    joins only (never inner: NULL FKs must survive to be counted), no
    Python stages, no driver-side loop artifacts (no CollectLimit)."""
    plan = _plan(spark, "q_fk_orphan_audit")
    assert "Union" in plan
    assert "LeftOuter" in plan and "Inner," not in plan
    assert "CollectLimit" not in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_label_coherence_vectors_never_shuffle(spark):
    """Nearest-centroid census: the prototype row broadcasts and every
    distance + argmin runs in-row, so the VECTOR side streams through a
    BroadcastNestedLoopJoin — hash exchanges exist only for the tiny
    centroid build and the final census, never keyed on a vector id; no
    Python stages (the folds are whole-stage codegen)."""
    plan = _plan(spark, "q_label_coherence")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert groups and all(
        g.startswith(("label", "pos", "true_label")) for g in groups
    ), groups
    assert "vec_id" not in plan, "assignment must not key on the vector id"
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_apply_delta_broadcasts_victims_no_snapshot_shuffle(spark):
    """MERGE plan: the victim-id set broadcasts, so the snapshot side
    streams through a broadcast LEFT ANTI join — corpus rows never hit an
    exchange (the only hash exchange is the tiny victim-id distinct)."""
    plan = _plan(spark, "q_apply_delta")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert all(g.startswith("doc_id") for g in groups) and len(groups) <= 2, groups
    assert "SortMergeJoin" not in plan


def test_quality_audit_single_scan_no_driver_loop(spark):
    """The audit must evaluate every check in one scan: predicate checks
    are conditional sums in one global aggregate, the uniqueness check
    rides the same scan as an Expand-based distinct — never one job per
    check, never a driver-side loop, no Python stages."""
    plan = _plan(spark, "q_data_quality_audit")
    assert plan.count("Scan parquet") == 1, "all checks must share one scan"
    # the count-distinct rides the same scan as a pre-grouped partial agg
    # (map-side dedup on the key struct), then one SinglePartition merge —
    # two exchanges total, and the second moves one row per partition
    assert plan.count("Exchange") == 2 and "SinglePartition" in plan
    assert "CollectLimit" not in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_fuzzy_pairs_blocked_join_no_cartesian(spark):
    """Fuzzy matching must stay a variant-keyed equi-join over the CACHED
    explode (three consumers: census + both sides -> one scan+explode),
    with no cartesian/nested-loop pairing and no Python stages."""
    plan = _plan(spark, "q_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 3, "variant stream must be cached"
    assert "levenshtein" in plan  # exact verification fused in-plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_maybe_broadcast_budget_guard_both_paths(spark):
    """maybe_broadcast (VERDICT r06 #3) decides from a known size only:
    within budget the side carries the broadcast hint (BroadcastHashJoin
    even with the auto threshold off); past budget the hint is withheld and
    the join plans as a shuffle join. Both paths return identical rows,
    neither starts a job nor registers a cache, and a call without
    ``n_rows`` is an error."""
    from the_movie_database_import_spark import session as S

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(5000).withColumnRenamed("id", "k")
        small = spark.range(0, 5000, 7).withColumnRenamed("id", "k")

        caches, jobs = len(S._TRACKED), job_ids(spark)
        hinted = big.join(S.maybe_broadcast(small, n_rows=715), "k", "left_anti")
        fallback = big.join(
            S.maybe_broadcast(small, n_rows=715, budget_rows=10), "k", "left_anti"
        )
        assert job_ids(spark) == jobs
        assert len(S._TRACKED) == caches

        p1 = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p1, p1
        p2 = fallback._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p2, p2
        assert sorted(r.k for r in hinted.collect()) == sorted(
            r.k for r in fallback.collect()
        )

        with pytest.raises(TypeError):
            S.maybe_broadcast(small)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_apply_delta_budget_guard_site(spark):
    """apply_delta leaves the victim set to the planner: at sf0.001 the
    feed is small, so the snapshot streams through a BroadcastHashJoin
    (zero snapshot shuffle) with no job at build time, and the MERGE equals
    a reference built from plain DataFrame set operations."""
    from the_movie_database_import_spark.operators.delta import apply_delta
    from the_movie_database_import_spark.sources.readers import load_table

    snap = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ups = snap.filter(F.col("doc_id") % 50 == 0).withColumn(
        "text", F.lit("updated")
    )
    dels = snap.filter(F.col("doc_id") % 97 == 0).select("doc_id")

    jobs = job_ids(spark)
    merged = apply_delta(snap, ups, dels)
    assert job_ids(spark) == jobs
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    victims = ups.select("doc_id").union(dels)
    reference = snap.exceptAll(snap.join(victims, "doc_id", "left_semi")).union(ups)
    got = sorted(map(tuple, merged.collect()))
    assert got == sorted(map(tuple, reference.collect()))
    assert any(t == "updated" for _, t in got)
    assert len(got) < snap.count()  # the deletes removed rows


def test_status_store_read_after_drain(spark):
    """perfbench's StatusStore, read after a listener-bus drain (bench.py's
    drained_read), attributes a query's jobs, tasks and executor CPU time
    to it."""
    from bench import drained_read
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    drained_read(spark, store)
    spark.range(2_000_000).selectExpr("sum(id * id)").collect()
    d = drained_read(spark, store)
    assert d["spark.jobs"] >= 1
    assert d["spark.tasks"] >= 1
    assert d["spark.executor_cpu_s"] > 0


def test_twap_window_and_agg_share_one_exchange(spark):
    """TWAP: the lead window and the per-key aggregate share the single
    user-keyed exchange; one pruned scan; everything JVM-side."""
    plan = _plan(spark, "q_twap_per_user")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    assert plan.count("Window ") == 1
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_cusum_two_windows_one_exchange(spark):
    """CUSUM: the running-sum and running-min windows and the final
    per-key aggregate all share one user-keyed exchange (the closed
    form's entire point — no fold, no second shuffle)."""
    plan = _plan(spark, "q_events_cusum")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    assert plan.count("Window ") == 2


def test_autocorr_agg_reuses_window_partitioning(spark):
    """Lag-1 autocorr: the corr aggregate groups on the window's
    partition key, so Catalyst plans ONE exchange total."""
    plan = _plan(spark, "q_events_autocorr")
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("event_type"), groups


def test_calibrated_keep_broadcasts_thresholds_no_data_window(spark):
    """Calibrated quality keep: data rows never enter a window (the
    hot-source single-task hazard) — the per-source threshold table
    broadcasts back as a filter; the only hash exchange is the
    source-keyed score-list aggregate."""
    plan = _plan(spark, "q_quality_calibrated_keep")
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert groups and all(g.startswith("source") for g in groups), groups


def test_syndication_has_no_join_at_all(spark):
    """Syndication census: the collect-set formulation eliminates the
    paragraph self-join entirely — no join operator of any kind in the
    plan, and the only data-scale exchange is digest-keyed."""
    plan = _plan(spark, "q_source_syndication")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan, f"unexpected {j}:\n{plan}"
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert any(g.startswith("_h") for g in groups), groups


def test_chi2_caches_cells_for_all_consumers(spark):
    """Chi-squared: the contingency-cell census is cached and all four
    consumers (cells + three margins) read the InMemory relation — the
    alternative is four full base-table scans."""
    plan = _plan(spark, "q_chi2_independence")
    assert plan.count("InMemoryTableScan") == 4, plan.count("InMemoryTableScan")


def test_golden_record_is_one_aggregate_no_window(spark):
    """Golden record: pure struct-max hash aggregate — one user-keyed
    exchange, no window, no sort, no join."""
    plan = _plan(spark, "q_golden_record")
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("user_id"), groups
    assert "Window" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin"):
        assert j not in plan


def test_local_supplier_volume_all_broadcast_one_exchange(spark):
    """TPC-H Q5 analog: five broadcast joins (two dimension paths meeting
    on nationhood), zero sort-merge joins, one final-aggregate exchange,
    and the date range pushed to the orders parquet scan."""
    plan = _plan(spark, "q_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("n_name"), groups
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)


def test_q6_pure_scan_all_filters_pushed(spark):
    """TPC-H Q6 analog: no join anywhere, exactly the four referenced
    columns in ReadSchema, every predicate pushed to the parquet scan,
    and the only exchange is the single-partition gather of partial
    aggregates."""
    plan = _plan(spark, "q_revenue_change_q6")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert "PushedFilters: [IsNotNull" in plan


def test_unpivot_is_pure_expand_no_shuffle(spark):
    """UNPIVOT/melt: the wide-to-long reshape is an in-plan Expand node —
    one scan, no exchange of any kind, no join."""
    plan = _plan(spark, "q_unpivot_melt")
    assert "Expand" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_full_outer_join_cannot_broadcast(spark):
    """FULL OUTER preserves both sides, so no broadcast strategy exists —
    the plan must be a SortMergeJoin FullOuter over one co-keyed shuffle
    pair; and on this data BOTH unmatched sides are non-empty (the
    FK-orphan mismatch, materialized)."""
    plan = _plan(spark, "q_join_full_outer")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan
    df = REGISTRY["q_join_full_outer"].spark_fn(spark, SF_DIR)
    only_cust = df.filter("is_customer AND NOT has_events").count()
    only_events = df.filter("has_events AND NOT is_customer").count()
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    # the FULL-join identity: every customer appears once, plus one row
    # per event-only user (at sf0.001 the event ids happen to all be
    # customers, so only_events may be 0 — the identity still pins the
    # preservation property either way)
    assert only_cust > 0
    assert df.count() == n_cust + only_events


def test_psi_census_is_cached_for_both_consumers(spark):
    """PSI at 100 TB must cost exactly two full-data passes (the pooled
    min/max and the (key, bin) census) — everything after operates on the
    keys x bins census. BOTH census consumers (the term rows and the
    per-key totals) must read the tracked-cached census — uncached, each
    branch re-ran the full min/max + census pipeline from the base table
    (4 parquet scans, the chi2 cells trap); and the totals join back
    behind broadcast, never a sort-merge."""
    plan = _plan(spark, "q_psi_value_drift")
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the column-pruned stats pass reads only what the binning needs
    assert re.search(r"FileScan parquet \[ts#\d+,value#\d+\]", plan)


def test_q3_shipping_priority_is_takeordered_one_exchange(spark):
    """TPC-H Q3 analog: the customer-segment filter broadcast-prunes
    orders BEFORE the fact joins (2 BroadcastHashJoins, no sort-merge),
    ONE aggregate exchange on the group key, and the global top-10 plans
    as TakeOrderedAndProject — never a full sort of the aggregate."""
    plan = _plan(spark, "q_shipping_priority_q3")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan or "EqualTo(c_mktsegment,BUILDING)" in plan


def test_ks_census_single_key_exchange_for_both_windows(spark):
    """KS drift (and its MWU sibling) must hash-partition the CENSUS once
    on the key and run both window passes (totals + cumulative) on that
    one partitioning: exactly two Exchanges total — the (key, value)
    census aggregate and the key repartition — and no exchange between
    the windows and the final per-key aggregate."""
    for q in ("q_ks_value_drift", "q_mann_whitney_u"):
        plan = _plan(spark, q)
        n_ex = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n_ex == 2, (q, n_ex, "expected census + key exchanges only")
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_heavy_hitters_recount_is_broadcast_semi_over_sketch(spark):
    """The heavy-hitter recount must consume the Misra-Gries candidates
    through a BROADCAST left-semi probe (the vocabulary's long tail never
    enters a shuffle), with the sketch itself a MapInPandas over the
    token scan and the total a broadcast one-row aggregate."""
    plan = _plan(spark, "q_heavy_hitters")
    assert "MapInPandas" in plan, "sketch stage must be Arrow mapInPandas"
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), (
        "candidate filter must be a broadcast semi join"
    )
    assert "SortMergeJoin" not in plan


def test_containment_corpus_rows_never_shuffle(spark):
    """Graded containment: the only row-exchange in the plan belongs to
    the matched-pair per-doc aggregate; the denominator computes in-row
    and joins the matched counts back behind a broadcast — corpus rows
    reach the output without ever being hash-repartitioned."""
    plan = _plan(spark, "q_decontaminate_containment")
    keys = {
        m.split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\((\w+#\d+L?)", plan)
    }
    # gram_h = the TINY benchmark-side distinct; doc_id = the matched-pair
    # aggregate (contaminated docs only). Nothing else may repartition —
    # in particular no exchange keyed on the corpus rows themselves.
    assert keys <= {"gram_h", "doc_id"}, keys
    assert plan.count("BroadcastHashJoin") >= 2, (
        "gram probe and matched-count rejoin must both broadcast"
    )
    assert "SortMergeJoin" not in plan


def test_vocab_growth_curve_no_global_doc_window(spark):
    """The growth curve's global doc rank must be the DISTRIBUTED form:
    row_number windows partitioned by the range-partition id plus a
    broadcast offsets table — never one windowspecdefinition that orders
    ALL per-doc rows with no partition columns (documents are the data
    axis; a global window funnels them into one partition). In the
    printed plan the distributed rank reads 'windowspecdefinition(_pid#…,
    _doc# ASC' (partitioned); the forbidden global form would read
    'windowspecdefinition(_doc# ASC' with no leading partition column.
    The legitimate unpartitioned windows in this plan order the bounded
    stats tables only (_pid offsets ≤ #partitions rows; bucket cumsums =
    n_checkpoints rows) and never carry _doc."""
    import re

    from the_movie_database_import_spark.operators.vocab import (
        vocab_growth_curve,
    )
    from the_movie_database_import_spark.sources.readers import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull()
    )
    plan = (
        vocab_growth_curve(docs, n_checkpoints=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan, "offsets/checkpoints must broadcast"
    assert re.search(
        r"windowspecdefinition\(_pid#\d+, _doc#\d+L? ASC", plan
    ), f"distributed per-partition rank window missing:\n{plan}"
    assert not re.search(
        r"windowspecdefinition\(_doc#\d+L? ASC", plan
    ), f"global doc-level window found:\n{plan}"


def test_gopher_rules_pure_scan_no_shuffle(spark):
    """The composite quality filter is a single-pass in-row projection:
    one documents scan pruned to (doc_id, text), no exchange, no join, no
    Python stage — the filter runs at scan speed at any corpus size."""
    plan = _plan(spark, "q_quality_gopher_rules")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["doc_id", "text"], cols
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_interval_coalesce_single_key_exchange(spark):
    """Gaps-and-islands: the running-max window, the span-numbering sum,
    and the (key, span_id) rollup must share ONE customer-keyed exchange
    (the sessionize/scd2 shape)."""
    plan = _plan(spark, "q_interval_coalesce")
    assert plan.count("Scan parquet") == 1
    groups = re.findall(r"Exchange hashpartitioning\(([^,)#]*)", plan)
    assert len(groups) == 1 and groups[0].startswith("o_custkey"), groups


def test_sorted_neighborhood_no_global_data_window(spark):
    """SNM's global rank must stay distributed: every row_number window
    over the DATA carries the range-partition id as its partition column;
    unpartitioned windows may only order the bounded per-partition offsets
    table (never the _key/_id data axis)."""
    plan = _plan(spark, "q_er_sorted_neighborhood")
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0].strip()
        if "_key" in spec or first.startswith("_id"):
            assert first.startswith("_pid"), (
                f"data-axis window lost its partition column: {spec}"
            )


def test_key_skew_census_takeordered_and_pruned_scan(spark):
    """The census reads ONLY the key column from the fact table and picks
    its top-k with TakeOrdered (no global sort materialization); the
    single-row stats side rides a broadcast, never a shuffle join."""
    plan = _plan(spark, "q_key_skew_census")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["user_id"], cols


def test_bloom_prefilter_probes_before_the_join(spark):
    """The Bloom probe must run as a scan-side Filter on the fact table
    (k xxhash64 bit tests against the literal bitmap) BELOW the exact semi
    join — pre-shuffle pruning is the operator's entire point."""
    plan = _plan(spark, "q_join_bloom_prefilter")
    assert "LeftSemi" in plan
    # the probe's k=5 hash tests sit in a Filter on the lineitem side; the
    # build side contributes no xxhash64 (it feeds the exact join directly)
    filters = [
        seg for seg in plan.split("\n") if "Filter" in seg and "xxhash64" in seg
    ]
    assert filters, "no scan-side Bloom probe Filter in plan"
    assert filters[0].count("xxhash64") >= 5, "fewer than k hash probes"
    # pruning happens below the join: the semi join must appear EARLIER in
    # the bottom-up printed plan string than the probe filter? The printed
    # tree is top-down, so the join line index must be SMALLER.
    join_idx = plan.index("LeftSemi")
    probe_idx = plan.index(filters[0])
    assert probe_idx > join_idx, "Bloom probe is not below the semi join"


def test_bpe_pair_census_alphabet_bounded_shuffles(spark):
    """BPE round-0: one documents scan; shuffles carry only the word census
    (word) and the pair census (left, right) — never corpus rows. The scan
    is pruned to the text column."""
    plan = _plan(spark, "q_bpe_pair_census")
    assert plan.count("Scan parquet") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["text"], cols
    groups = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert groups, "expected census shuffles"
    for g in groups:
        keys = [k.strip().split("#")[0] for k in g.split(",")[:-1]]
        # the pair groupBy keys print as _groupingexpression aliases of
        # (p.left, p.right); what matters is that no doc/text column and
        # no more than two key columns ever ride an exchange
        assert len(keys) <= 2 and not any(
            k in ("doc_id", "text") for k in keys
        ), keys


def test_c4_line_filters_pure_scan_no_shuffle(spark):
    """C4 line cleaning is a single-pass in-row projection over the
    split-once line array: one documents scan pruned to (doc_id, text),
    no exchange, no join, no Python stage."""
    plan = _plan(spark, "q_quality_c4_lines")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["doc_id", "text"], cols
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan


def test_setjoin_prefix_no_cartesian_pruned_scan(spark):
    """The prefix-filtered set-similarity join must plan as equi-joins on
    (token) / (doc id) — never a cartesian/nested-loop all-pairs — with
    the documents scan pruned to (doc_id, text)."""
    plan = _plan(spark, "q_dedup_setjoin_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["doc_id", "text"], cols


def test_dsir_importance_broadcast_weights_no_python(spark):
    """DSIR: the 256-row weight table must broadcast back onto the bucket
    occurrences (no shuffle of corpus-sized rows for the probe join), and
    the whole pipeline stays JVM-side."""
    plan = _plan(spark, "q_dsir_importance")
    assert "BroadcastHashJoin" in plan
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan
    # each side prunes independently: the probe never reads lang, the
    # census never reads doc_id
    schemas = {
        tuple(sorted(c.split(":")[0] for c in m.split(",")))
        for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    }
    assert ("doc_id", "text") in schemas, schemas
    assert ("lang", "text") in schemas, schemas
    assert not any("doc_id" in s and "lang" in s for s in schemas), schemas


def test_hard_negatives_anchors_broadcast(spark):
    """Hard-negative mining: anchors broadcast (nested-loop on the
    non-equi label/id constraint), the corpus is scanned — never
    shuffled — before the per-anchor top-k window."""
    plan = _plan(spark, "q_ann_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cooccurrence_edges_equi_join_pruned_scan(spark):
    """The co-occurrence self-join must plan as an equi-join on the group
    key (bounded per-key fan-out — the blocking shape), never a cartesian,
    and the lineitem scan must prune to exactly (l_orderkey, l_partkey)."""
    from the_movie_database_import_spark.operators.graph import (
        cooccurrence_edges,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    plan = (
        cooccurrence_edges(li, "l_orderkey", "l_partkey", directed=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["l_orderkey", "l_partkey"], cols


def test_graph_triangles_equi_joins_and_topk(spark):
    """Triangle census: wedge + closure joins are equi-joins (the degree
    orientation is plain column logic, no cross product anywhere), and the
    registry query's top-100 plans as TakeOrderedAndProject — a bounded
    per-partition heap + single merge, not a global sort."""
    plan = _plan(spark, "q_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_graph_pagerank_iteration_paid_once(spark):
    """The returned ranks are a checkpointed RDD scan: the ten-round
    iteration ran eagerly exactly once (lineage truncated per round), so
    consuming the result — here the top-100 — replans as Scan ExistingRDD
    + TakeOrderedAndProject, never a re-execution of the loop (no join or
    parquet scan may survive in the consumer plan)."""
    plan = _plan(spark, "q_graph_pagerank")
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan, "consumer plan must not re-run the iteration"
    assert "Parquet" not in plan


def test_simhash_first_band_emission_no_candidate_aggregate(spark):
    """SimHash near-dup: the banded self-join keys on (band, band value)
    and emits each pair at its first colliding band, so no aggregate
    (distinct) runs over the candidate stream; the Hamming verify is a
    bit_count on the XOR inside the join."""
    plan = _plan(spark, "q_dedup_simhash")
    assert re.search(r"BroadcastHashJoin \[band_id#\d+, band_val", plan), plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "bit_count(" in plan


def test_incremental_dedup_shuffles_digests_only(spark):
    """Incremental exact dedup: every hash exchange is keyed on a digest
    (the corpus side-table, the batch winners), so corpus text never
    moves; the within-batch winner is a map-side-combined min aggregate,
    never a window."""
    plan = _plan(spark, "q_incremental_dedup")
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert groups and all("digest" in g for g in groups), groups
    assert "partial_min(doc_id" in plan
    assert "windowspecdefinition" not in plan


@pytest.mark.parametrize(
    "name", ["q_dedup_substring_spans", "q_dedup_spans_incremental"]
)
def test_span_dedup_winner_aggregate_and_in_row_rebuild(spark, name):
    """Span dedup (full and daily): the per-gram winner is a map-side-
    combined min(struct) aggregate, never a window over digests, and the
    text rebuild drops the losing spans in-row with array_except."""
    plan = _plan(spark, name)
    assert "partial_min(struct(" in plan
    assert "windowspecdefinition" not in plan
    assert "array_except(" in plan


def test_token_budget_global_window_over_census_only(spark):
    """Token-budget selection: the prefix-sum window with no partition
    columns runs over the quantized-score census (its single-partition
    exchange is fed by the census aggregate), and the boundary bucket's
    running sum over doc rows is partitioned by its bucket key."""
    lines = _plan(spark, "q_select_token_budget").splitlines()
    singles = [i for i, line in enumerate(lines) if "Exchange SinglePartition" in line]
    assert singles
    for i in singles:
        assert "HashAggregate(keys=[quality_q" in lines[i + 1], lines[i + 1]
    assert re.search(
        r"windowspecdefinition\(quality_q#\d+L?, doc_id", "\n".join(lines)
    )


def test_corpus_mix_temperature_filters_scan_side(spark):
    """Temperature mixing: only the per-group count table shuffles (on
    lang); the derived rates broadcast back and the md5 bucket filter
    rides the broadcast join at the scan, so corpus rows never shuffle."""
    plan = _plan(spark, "q_corpus_mix_temperature")
    groups = re.findall(r"Exchange hashpartitioning\(([^,]*)", plan)
    assert groups and all(g.startswith("lang") for g in groups), groups
    assert re.search(
        r"BroadcastHashJoin \[lang#\d+\], \[lang#\d+\], Inner, BuildRight, \(substr\(md5",
        plan,
    )


@pytest.mark.parametrize(
    "name, window_keys",
    [("q_token_kl_divergence", ("lang", "token")), ("q_token_entropy", ("source",))],
)
def test_token_census_is_the_only_corpus_pass(spark, name, window_keys):
    """Token KL / entropy: one documents scan feeds one map-side-combined
    (group, token) count census; every total comes from a window
    partitioned over that census, never a second corpus scan."""
    plan = _plan(spark, name)
    assert plan.count("FileScan parquet") == 1
    assert re.search(
        rf"HashAggregate\(keys=\[{window_keys[0]}#\d+, token#\d+\], functions=\[partial_count",
        plan,
    )
    for key in window_keys:
        assert re.search(rf"windowspecdefinition\({key}#\d+,", plan), key


def test_bootstrap_se_one_aggregate_one_scan(spark):
    """Poisson bootstrap: all replicate sums ride ONE hash aggregate
    (partial + final) over one events scan: no second data pass, no
    resampling loop."""
    plan = _plan(spark, "q_bootstrap_se")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("HashAggregate(") == 2
    assert "partial_sum(" in plan


def test_trigram_search_semi_joins_candidates(spark):
    """Trigram LIKE: the counted trigram-index hits prune the documents
    through a broadcast LEFT SEMI join on doc_id, and the exact contains
    test verifies at the scan."""
    plan = _plan(spark, "q_substring_search_trgm")
    assert re.search(
        r"BroadcastHashJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], LeftSemi", plan
    )
    assert "Contains(text" in plan
    assert re.search(r"HashAggregate\(keys=\[doc_id#\d+L?\], functions=\[count\(1\)", plan)


def test_dedup_survivors_max_by_aggregate_no_cluster_window(spark):
    """Survivor selection: the per-cluster argmax is one map-side-
    combinable max_by aggregate, never a window partitioned by cluster,
    over the checkpointed connected-components labels."""
    plan = _plan(spark, "q_dedup_survivors")
    assert "partial_max_by(doc_id" in plan
    assert "windowspecdefinition" not in plan
    assert "Scan ExistingRDD" in plan
