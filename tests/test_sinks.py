"""Sink behavior (SURVEY.md §2 sources/sinks): partitioned parquet layout
and partition pruning — the mechanism that makes a 100 TB table readable in
slices (directory-level pruning happens before any I/O)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from the_movie_database_import_spark.sources.readers import load_table
from the_movie_database_import_spark.sources.writers import write_parquet_partitioned


def test_partitioned_sink_layout_and_pruning(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    write_parquet_partitioned(events, out, partition_by=["event_type"])

    # Hive-style directory layout, one per partition value.
    types = [r.event_type for r in events.select("event_type").distinct().collect()]
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert dirs == {f"event_type={t}" for t in types}

    # A filter on the partition column must prune at planning time: the scan's
    # partition filters include the predicate, and only one directory is read.
    back = spark.read.parquet(out).filter(F.col("event_type") == types[0])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    start = plan.index("PartitionFilters")
    assert "event_type" in plan[start : start + 200], (
        "partition predicate did not reach the scan's PartitionFilters"
    )
    # Row parity with the unpartitioned source.
    want = events.filter(F.col("event_type") == types[0]).count()
    assert back.count() == want


def test_partitioned_sink_roundtrip_values(spark, tmp_path):
    """Partition columns are restored on read (values, not just counts)."""
    events = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_rt")
    write_parquet_partitioned(events, out, partition_by=["event_type"])
    a = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("s"))
        .collect()
    )
    b = (
        events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("s"))
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sql_front_door_matches_dataframe_plan(spark):
    """register_views exposes the testdata tables to ad-hoc Spark SQL; a SQL
    aggregation must equal the equivalent DataFrame plan row-for-row."""
    from the_movie_database_import_spark.sources.readers import register_views

    register_views(spark, SF_DIR)
    sql_rows = spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ).collect()
    df_rows = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert sql_rows == df_rows


def test_training_shards_sink_layout_order_and_determinism(spark, tmp_path):
    """write_training_shards: one directory per shard; rows inside each
    shard file are physically stored in training (pos) order so an epoch
    reader needs no sort; every input row lands in exactly one shard; a
    re-run writes identical shard contents (pure function of the ids)."""
    import os

    from the_movie_database_import_spark.sources.readers import load_table
    from the_movie_database_import_spark.sources.writers import write_training_shards

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = docs.count()
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4)

    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    total = 0
    for d in dirs:
        part = spark.read.parquet(f"{out}/{d}")
        rows = part.collect()  # file order, no sort
        total += len(rows)
        poss = [r["pos"] for r in rows]
        assert poss == sorted(poss), f"{d} not stored in training order"
        assert poss == list(range(1, len(poss) + 1))
    assert total == n

    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=4)
    a = spark.read.parquet(out).select("shard", "pos", "doc_id").collect()
    b = spark.read.parquet(out2).select("shard", "pos", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # plan pin: the pre-write frame carries an EXPLICIT Sort on
    # (shard, pos) — the (shard,...) prefix satisfies the partitioned
    # write's required ordering, so the writer inserts no implicit sort
    # and within-shard pos order is plan-guaranteed (not an accident of
    # spill-merge stability at scale)
    from the_movie_database_import_spark.sources.writers import training_shard_frame

    plan = (
        training_shard_frame(docs, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    sorts = re.findall(r"Sort \[([^\]]*)\]", plan)
    assert any(
        "shard" in s.split(",")[0] and "pos" in s for s in sorts
    ), f"expected explicit Sort [shard, pos] in plan, got sorts={sorts}"


def overlap_fraction(path: str, box: dict[str, tuple[float, float]]) -> float:
    """Fraction of row groups whose [min,max] stats intersect the box on
    EVERY constrained column — the row groups a reader must fetch. This is
    the pruning decision Spark's parquet reader makes per row group."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = hit = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        schema_names = md.schema.to_arrow_schema().names
        idx = {c: schema_names.index(c) for c in box}
        for rg in range(md.num_row_groups):
            total += 1
            g = md.row_group(rg)
            ok = True
            for c, (lo, hi) in box.items():
                st = g.column(idx[c]).statistics
                if st is None or st.min is None:
                    continue  # no stats -> cannot prune, must read
                if st.max < lo or st.min > hi:
                    ok = False
                    break
            hit += ok
    return hit / total if total else 1.0


def test_zordered_layout_prunes_multi_dim(spark, tmp_path):
    """Z-order vs single-column sort at row-group granularity: a selective
    box on the SECOND dimension must let the z-ordered layout skip row
    groups the single-column sort cannot (its suppkey min/max spans
    everything), and the two-dimension box must prune on both layouts.
    Uses the footer-stats overlap rule of :func:`overlap_fraction`."""
    from the_movie_database_import_spark.sources.writers import write_zordered

    li = load_table(spark, SF_DIR, "lineitem")
    pk_hi = li.agg(F.max("l_partkey")).first()[0]
    sk_hi = li.agg(F.max("l_suppkey")).first()[0]
    box = {"l_suppkey": (0.45 * sk_hi, 0.55 * sk_hi)}
    box_both = {**box, "l_partkey": (0.45 * pk_hi, 0.55 * pk_hi)}

    sorted_p = str(tmp_path / "sorted_pk")
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.option("parquet.block.size", str(64 * 1024))
        .parquet(sorted_p)
    )
    z_p = str(tmp_path / "zordered")
    write_zordered(
        li, z_p, ["l_partkey", "l_suppkey"], n_files=8,
        parquet_block_bytes=64 * 1024,
    )

    f_sorted = overlap_fraction(sorted_p, box)
    f_z = overlap_fraction(z_p, box)
    assert f_sorted > 0.9, f_sorted  # single-col sort cannot prune dim 2
    assert f_z < 0.6 * f_sorted, (f_z, f_sorted)
    assert overlap_fraction(sorted_p, box_both) < 1.0
    assert overlap_fraction(z_p, box_both) < 1.0

    # round-trip integrity: same rows come back, no helper columns leak
    back = spark.read.parquet(z_p)
    assert sorted(back.columns) == sorted(li.columns)
    assert back.count() == li.count()
    # Exact multiset equality, not a double sum: the range sampler's seed
    # follows the session's RDD id, so the row order inside the files (and
    # with it the sum's rounding) depends on what the session ran before.
    back = back.select(*li.columns)
    assert back.exceptAll(li).count() == 0
    assert li.exceptAll(back).count() == 0


def test_compact_small_files_reduces_count_and_preserves_rows(spark, tmp_path):
    """OPTIMIZE-style compaction: 64 tiny files collapse to the byte-target
    count, every row survives bit-identically, and the swap leaves a
    readable directory whose scan runs as one task (the per-file task
    overhead is the tax compaction removes). With sort_cols, file
    row-ranges become disjoint (the clustering the rewrite collects for
    free)."""
    import os

    from the_movie_database_import_spark.sources.writers import (
        compact_small_files,
    )

    src = str(tmp_path / "events_small")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.repartition(64).write.parquet(src)
    before = sorted(
        r["event_id"] for r in spark.read.parquet(src).collect()
    )
    tasks_before = spark.read.parquet(src).rdd.getNumPartitions()

    stats = compact_small_files(spark, src, target_file_bytes=10**9)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    assert stats["rows"] == len(before)
    after = sorted(r["event_id"] for r in spark.read.parquet(src).collect())
    assert after == before
    tasks_after = spark.read.parquet(src).rdd.getNumPartitions()
    assert tasks_after == 1 < tasks_before, (tasks_before, tasks_after)

    # sorted variant: disjoint per-file event_id ranges
    src2 = str(tmp_path / "events_sorted")
    ev.repartition(32).write.parquet(src2)
    compact_small_files(
        spark, src2, target_file_bytes=len(before) * 8, sort_cols=["event_id"]
    )
    import pyarrow.parquet as pq

    ranges = []
    for root, _, names in os.walk(src2):
        for f in names:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, f), columns=["event_id"])
                ids = t["event_id"].to_pylist()
                if ids:
                    ranges.append((min(ids), max(ids)))
    ranges.sort()
    assert len(ranges) >= 2, "expected a multi-file sorted layout"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "sorted compaction must produce disjoint ranges"


def test_scan_parquet_evolving_merges_generations(spark, tmp_path):
    """Two generations under one directory — gen2 gained `quality_note`:
    the merged scan exposes the union schema with NULLs for gen1 rows,
    while a plain scan can silently bind gen1's narrower schema (schema
    inference samples one footer; which one is nondeterministic, the
    trap the merging reader exists to close)."""
    from the_movie_database_import_spark.sources.readers import (
        scan_parquet_evolving,
    )

    base = str(tmp_path / "evolving")
    docs = load_table(spark, SF_DIR, "documents")
    docs.filter("doc_id % 2 = 0").select("doc_id", "lang").write.parquet(
        base + "/gen=1"
    )
    docs.filter("doc_id % 2 = 1").select(
        "doc_id", "lang", F.lit("resubmitted").alias("quality_note")
    ).write.parquet(base + "/gen=2")

    merged = scan_parquet_evolving(spark, base)
    assert "quality_note" in merged.columns
    n_total = docs.count()
    assert merged.count() == n_total
    old_rows = merged.filter("gen = 1")
    assert old_rows.count() > 0
    assert old_rows.filter(F.col("quality_note").isNotNull()).count() == 0
    new_rows = merged.filter("gen = 2")
    assert new_rows.filter(F.col("quality_note") != "resubmitted").count() == 0


def test_snapshot_commit_isolates_reader_from_compaction(spark, tmp_path):
    """Snapshot isolation (VERDICT r08 #5): a reader bound to generation
    N mid-scan is unaffected by a concurrent compaction committing N+1 —
    the commit is one manifest `os.replace`, and N's files survive until
    an explicit vacuum. New readers bind the compacted generation."""
    import os

    from the_movie_database_import_spark.sources.writers import (
        snapshot_compact,
        snapshot_current,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_snap")
    m1 = snapshot_write(ev.repartition(16), path)
    assert m1["generation"] == 1

    # Reader binds generation 1 (plan constructed, nothing materialized
    # yet — the "mid-scan" posture: its file list is already fixed).
    reader_gen1 = snapshot_read(spark, path)
    n_expected = ev.count()

    # Concurrent maintenance: compaction writes + commits generation 2.
    stats = snapshot_compact(spark, path, target_file_bytes=10**9)
    assert stats["generation"] == 2
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1
    assert snapshot_current(path)["generation"] == 2

    # The gen-1 reader still scans its own immutable files, full count.
    assert reader_gen1.count() == n_expected
    ids_gen1 = sorted(r["event_id"] for r in reader_gen1.collect())

    # A fresh reader binds the compacted generation with identical rows.
    reader_gen2 = snapshot_read(spark, path)
    ids_gen2 = sorted(r["event_id"] for r in reader_gen2.collect())
    assert ids_gen2 == ids_gen1

    # Vacuum reclaims gen-1 only when asked; the current gen survives.
    assert snapshot_vacuum(path, keep=2) == []
    assert snapshot_vacuum(path, keep=1) == ["gen-00000001"]
    assert not os.path.exists(os.path.join(path, "gen-00000001"))
    assert snapshot_read(spark, path).count() == n_expected


def test_snapshot_write_appends_generations_last_writer_wins(spark, tmp_path):
    """Repeated snapshot_write commits monotonically increasing
    generations; the manifest always names the LAST committed one and a
    failed/uncommitted write never becomes visible."""
    from the_movie_database_import_spark.sources.writers import (
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "dim_snap")
    nation = load_table(spark, SF_DIR, "nation")
    snapshot_write(nation, path)
    m2 = snapshot_write(nation.limit(5), path)
    assert m2["generation"] == 2 and m2["rows"] == 5
    assert snapshot_current(path)["rows"] == 5
    assert snapshot_read(spark, path).count() == 5


def test_snapshot_append_is_o_increment_and_isolated(spark, tmp_path):
    """Appends extend the segment list without touching existing files: a
    reader bound before the append keeps its own row set; rows accumulate;
    compaction collapses the segments to one and preserves every row."""
    import os

    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_compact,
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "appending")
    nation = load_table(spark, SF_DIR, "nation")
    snapshot_write(nation.filter("n_nationkey < 10"), path)
    reader_v1 = snapshot_read(spark, path)

    m = snapshot_append(nation.filter("n_nationkey >= 10"), path)
    assert m["generation"] == 2 and len(m["dirs"]) == 2
    assert m["rows"] == nation.count()
    # pre-append reader unaffected; fresh reader sees the union
    assert reader_v1.count() == 10
    assert snapshot_read(spark, path).count() == nation.count()
    # the first segment's files were not rewritten by the append
    seg1 = os.path.join(path, "gen-00000001")
    assert os.path.isdir(seg1)

    stats = snapshot_compact(spark, path, target_file_bytes=10**9)
    assert stats["rows"] == nation.count()
    assert len(snapshot_current(path)["dirs"]) == 1
    assert snapshot_read(spark, path).count() == nation.count()


def test_stream_snapshot_sink_exactly_once_replay(spark, tmp_path):
    """Streaming snapshot sink: an availableNow stream lands every source
    row exactly once; a REPLAYED micro-batch (same batch_id, the
    post-failure restart contract) is skipped wholesale — the manifest is
    the ledger and the os.replace commit is the transaction."""
    import os

    from the_movie_database_import_spark.sources.writers import (
        snapshot_current,
        snapshot_read,
    )
    from the_movie_database_import_spark.streaming.sinks import (
        run_to_snapshot,
        snapshot_batch_writer,
    )
    from the_movie_database_import_spark.streaming.windows import (
        _events_raw_schema,
        stream_events,
    )

    path = str(tmp_path / "events_snap_stream")
    ckpt = str(tmp_path / "ckpt")
    run_to_snapshot(stream_events(spark, SF_DIR), path, ckpt)
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    got = snapshot_read(spark, path)
    assert got.count() == n
    ids = sorted(r["event_id"] for r in got.select("event_id").collect())
    assert ids == sorted(r["event_id"] for r in ev.select("event_id").collect())

    # replay: re-deliver an already-committed batch id by hand
    last = snapshot_current(path)["last_batch_id"]
    gen_before = snapshot_current(path)["generation"]
    writer = snapshot_batch_writer(path)
    writer(ev.limit(7), last)  # same batch id -> must be a no-op
    assert snapshot_current(path)["generation"] == gen_before
    assert snapshot_read(spark, path).count() == n
    # a NEW batch id commits (and records itself)
    writer(ev.limit(3), last + 1)
    assert snapshot_current(path)["last_batch_id"] == last + 1
    assert snapshot_read(spark, path).count() == n + 3


def test_snapshot_segment_pruning_skips_nonoverlapping_segments(spark, tmp_path):
    """Manifest-level data skipping: with per-segment min/max stats, a
    range read lists ONLY the overlapping segments' files (one level above
    parquet row-group pruning — skipped segments cost zero footer reads),
    the result is exactly the full-scan filter, a fully-disjoint range
    reads nothing, and segments WITHOUT stats are conservatively kept."""
    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_stats")
    # four event_id-sliced segments with sticky stats declaration
    snapshot_write(
        ev.filter("event_id < 100"), path, stats_cols=["event_id", "ts"]
    )
    for lo, hi in [(100, 200), (200, 300), (300, 10**9)]:
        snapshot_append(ev.filter(f"event_id >= {lo} AND event_id < {hi}"), path)
    man = snapshot_current(path)
    assert man["stats_cols"] == ["event_id", "ts"]
    assert len(man["dirs"]) == 4 and len(man["stats"]) == 4

    pruned = snapshot_read(spark, path, where=("event_id", 110, 150))
    # only the [100, 200) segment's files are listed
    files = {f.split("/")[-2] for f in pruned.inputFiles()}
    assert files == {"gen-00000002"}, files
    expect = sorted(
        r["event_id"]
        for r in ev.filter("event_id BETWEEN 110 AND 150").collect()
    )
    assert sorted(r["event_id"] for r in pruned.collect()) == expect

    # open lower bound; disjoint range reads nothing but keeps the schema
    assert snapshot_read(spark, path, where=("event_id", None, 50)).count() == 51
    empty = snapshot_read(spark, path, where=("event_id", -10**9, -1))
    assert empty.count() == 0 and "event_id" in empty.columns

    # a stats-free table keeps every segment (conservative) and still
    # filters exactly
    path2 = str(tmp_path / "no_stats")
    snapshot_write(ev.filter("event_id < 100"), path2)
    snapshot_append(ev.filter("event_id >= 100 AND event_id < 200"), path2)
    r2 = snapshot_read(spark, path2, where=("event_id", 110, 150))
    assert {f.split("/")[-2] for f in r2.inputFiles()} == {
        "gen-00000001",
        "gen-00000002",
    }
    assert r2.count() == len([e for e in expect])


def test_snapshot_time_travel_reads_historical_states(spark, tmp_path):
    """Time travel: every commit leaves an immutable per-generation
    manifest, so `at_generation=N` rebinds the table AS OF commit N —
    valid until vacuum reclaims that state's segments, after which the
    read fails loudly (never a silent partial result)."""
    import pytest as _pytest

    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_compact,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "tt")
    snapshot_write(nation.filter("n_nationkey < 5"), path)       # gen 1
    snapshot_append(nation.filter("n_nationkey >= 5 AND n_nationkey < 10"), path)  # gen 2
    snapshot_compact(spark, path, target_file_bytes=10**9)       # gen 3

    assert snapshot_read(spark, path, at_generation=1).count() == 5
    assert snapshot_read(spark, path, at_generation=2).count() == 10
    assert snapshot_read(spark, path, at_generation=3).count() == 10
    assert snapshot_read(spark, path).count() == 10

    # vacuum reclaims gen-1/2 segments; their states now fail LOUDLY
    assert snapshot_vacuum(path) == ["gen-00000001", "gen-00000002"]
    with _pytest.raises(Exception):
        snapshot_read(spark, path, at_generation=1).count()
    # the current state is untouched; unknown generations fail up front
    assert snapshot_read(spark, path).count() == 10
    with _pytest.raises(FileNotFoundError):
        snapshot_read(spark, path, at_generation=99)


def test_snapshot_conflict_interleaved_committers(spark, tmp_path):
    """Optimistic concurrency (VERDICT r09 #5): a truncate/rewrite whose
    base generation moved must be DETECTED, not silently overwrite the
    interleaved commit; a blind append rebases instead (Delta's rule);
    a generation-pinned append is CAS-strict."""
    import os

    import pytest as _pytest

    from the_movie_database_import_spark.sources.writers import (
        SnapshotConflictError,
        snapshot_append,
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "cas")
    snapshot_write(nation.filter("n_nationkey < 5"), path)        # gen 1
    # committer A plans a rewrite against gen 1 ... committer B lands first
    snapshot_write(nation.filter("n_nationkey < 10"), path)       # gen 2 (B)
    with _pytest.raises(SnapshotConflictError):
        snapshot_write(
            nation.filter("n_nationkey < 3"), path, expected_generation=1
        )
    # B's commit survives untouched and A's staged temp was discarded
    assert snapshot_current(path)["generation"] == 2
    assert snapshot_read(spark, path).count() == 10
    assert not [d for d in os.listdir(path) if d.startswith(".seg-")]

    # pinned APPEND is CAS-strict too
    with _pytest.raises(SnapshotConflictError):
        snapshot_append(
            nation.filter("n_nationkey >= 20"), path, expected_generation=1
        )
    # blind append REBASES onto gen 2 rather than conflicting
    m = snapshot_append(nation.filter("n_nationkey >= 20"), path)
    assert m["generation"] == 3
    assert snapshot_read(spark, path).count() == 10 + nation.filter(
        "n_nationkey >= 20"
    ).count()
    # A retries with the fresh base and succeeds
    m = snapshot_write(nation.filter("n_nationkey < 3"), path,
                       expected_generation=3)
    assert m["generation"] == 4 and snapshot_read(spark, path).count() == 3


def test_snapshot_append_rebase_keeps_concurrent_stats_cols(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a blind append whose base read predates a concurrent
    commit that declared stats_cols must inherit them from the CUR
    manifest read under the commit lock — not silently drop the
    concurrent commit's pruning metadata. Simulated by pinning the
    append's pre-lock base read to the stale pre-stats manifest. The
    rebased segment contributes no stats entry of its own (it computed
    none) and must be conservatively KEPT by pruned reads."""
    import the_movie_database_import_spark.sources.writers as W

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "stats_race")
    W.snapshot_write(ev.filter("event_id < 50"), path)  # gen 1, no stats
    stale = W.snapshot_current(path)
    W.snapshot_append(
        ev.filter("event_id >= 50 AND event_id < 100"),
        path,
        stats_cols=["event_id"],
    )  # gen 2 declares stats (the "concurrent" commit)
    real = W.snapshot_current
    calls = {"n": 0}

    def stale_first(p):
        calls["n"] += 1
        return dict(stale) if calls["n"] == 1 else real(p)

    monkeypatch.setattr(W, "snapshot_current", stale_first)
    m = W.snapshot_append(
        ev.filter("event_id >= 100 AND event_id < 150"), path
    )
    monkeypatch.undo()
    assert m["generation"] == 3
    assert m["stats_cols"] == ["event_id"], (
        "rebase dropped the concurrent commit's stats_cols"
    )
    assert m.get("stats"), "gen-2's per-segment stats must survive the rebase"
    want = ev.filter("event_id < 150").count()
    got = W.snapshot_read(spark, path, where=("event_id", 0, 10**9)).count()
    assert got == want, "statless rebased segment must be conservatively kept"


def test_snapshot_compact_rejects_concurrent_append(spark, tmp_path):
    """A compaction is a rewrite of the state it read: if an append lands
    while it runs, publishing the rewrite would silently drop that
    segment. The commit-time generation check must reject it and the
    appended rows must survive. The interleave is simulated by firing a
    REAL append from inside compaction's entry read of the manifest."""
    import pytest as _pytest

    from the_movie_database_import_spark.sources import writers

    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "cc")
    writers.snapshot_write(nation.filter("n_nationkey < 10"), path)  # gen 1

    real = writers.snapshot_current
    state = {"fired": False}

    def racy(p):
        cur = real(p)
        if not state["fired"]:
            state["fired"] = True  # guard BEFORE the recursive append
            writers.snapshot_append(nation.filter("n_nationkey >= 10"), p)
            # return the now-STALE gen-1 view, exactly what a committer
            # that read just before the append would hold
        return cur

    writers.snapshot_current = racy
    try:
        with _pytest.raises(writers.SnapshotConflictError):
            writers.snapshot_compact(spark, path, target_file_bytes=10**9)
    finally:
        writers.snapshot_current = real

    # the concurrent append's rows survive; compaction retries cleanly
    assert writers.snapshot_read(spark, path).count() == nation.count()
    stats = writers.snapshot_compact(spark, path, target_file_bytes=10**9)
    assert stats["rows"] == nation.count()
    assert writers.snapshot_read(spark, path).count() == nation.count()


def test_snapshot_orphan_generation_never_wedges_commits(spark, tmp_path):
    """ADVICE r09: a committer crash between segment rename and manifest
    replace leaves an unreferenced gen-(cur+1) directory. The next commit
    must clear the orphan and land, not fail on the name collision
    forever; staging temps from pre-commit crashes are inert and
    vacuum-reclaimed."""
    import os

    from the_movie_database_import_spark.sources.writers import (
        snapshot_append,
        snapshot_current,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "orphan")
    snapshot_write(nation.filter("n_nationkey < 10"), path)       # gen 1
    # simulate the crashed committer: orphan gen-2 dir with junk data,
    # plus an abandoned staging temp
    os.makedirs(os.path.join(path, "gen-00000002"))
    with open(os.path.join(path, "gen-00000002", "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    os.makedirs(os.path.join(path, ".seg-deadbeef"))

    m = snapshot_append(nation.filter("n_nationkey >= 10"), path)  # gen 2
    assert m["generation"] == 2
    assert snapshot_read(spark, path).count() == nation.count()

    # the staging orphan never blocked anything; vacuum reclaims it
    assert ".seg-deadbeef" in snapshot_vacuum(path)
    assert not os.path.exists(os.path.join(path, ".seg-deadbeef"))
    assert snapshot_current(path)["generation"] == 2


def test_snapshot_pruning_string_column_uses_lexicographic_semantics(
    spark, tmp_path
):
    """ADVICE r09 regression: a STRING column whose values look numeric
    (['10','9','3'] -> lexicographic min '10', max '9') must be pruned
    with the SAME comparison semantics as the row filter. The old
    parse-as-float heuristic compared [10.0, 9.0] against ('2','5') and
    pruned the segment even though row '3' matches lexicographically."""
    from the_movie_database_import_spark.sources.writers import (
        snapshot_current,
        snapshot_read,
        snapshot_write,
    )

    df = spark.createDataFrame([("10",), ("9",), ("3",)], "k string")
    path = str(tmp_path / "lexstats")
    snapshot_write(df, path, stats_cols=["k"])
    assert snapshot_current(path)["stat_types"] == {"k": "lex"}

    got = snapshot_read(spark, path, where=("k", "2", "5")).collect()
    assert [r["k"] for r in got] == ["3"], (
        "string-typed stats must not be compared numerically"
    )
    # numeric columns still record and prune numerically
    dfn = spark.createDataFrame([(10,), (9,), (3,)], "v long")
    pathn = str(tmp_path / "numstats")
    snapshot_write(dfn, pathn, stats_cols=["v"])
    assert snapshot_current(pathn)["stat_types"] == {"v": "num"}
    assert snapshot_read(spark, pathn, where=("v", 2, 5)).count() == 1


def test_snapshot_restore_rolls_back_without_rewriting(spark, tmp_path):
    """RESTORE (r11): rolling back a bad ingest is ONE manifest commit
    re-referencing the target state's immutable segments — history stays
    linear (a new generation), readers of any bound state are untouched,
    pruning stats travel with the restored state, a subsequent vacuum
    reclaims the rolled-back segments but never the re-referenced ones,
    and the guardrails fail loudly (CAS pin mismatch; restore to a
    vacuumed state)."""
    import pytest as _pytest

    from the_movie_database_import_spark.sources.writers import (
        SnapshotConflictError,
        snapshot_append,
        snapshot_current,
        snapshot_read,
        snapshot_restore,
        snapshot_vacuum,
        snapshot_write,
    )

    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "restore")
    snapshot_write(
        nation.filter("n_nationkey < 5"), path, stats_cols=["n_nationkey"]
    )  # gen 1: the good state
    snapshot_append(
        nation.filter("n_nationkey >= 5 AND n_nationkey < 10"), path
    )  # gen 2: bad ingest #1
    snapshot_append(nation.filter("n_nationkey >= 10"), path)  # gen 3: #2
    assert snapshot_read(spark, path).count() == 25

    # CAS pin on a stale generation is rejected before anything commits
    with _pytest.raises(SnapshotConflictError):
        snapshot_restore(path, 1, expected_generation=2)
    assert snapshot_current(path)["generation"] == 3

    man = snapshot_restore(path, 1, expected_generation=3)
    assert man["generation"] == 4, "restore is a NEW commit, not a rewind"
    assert man["dirs"] == ["gen-00000001"], "restore re-references, never copies"
    assert snapshot_read(spark, path).count() == 5
    # restored pruning stats still prune (the where= path skips gen-1? no —
    # gen-1 IS the only segment; assert the stats survived the restore)
    assert man.get("stats_cols") == ["n_nationkey"]
    assert "gen-00000001" in man.get("stats", {})
    assert snapshot_read(spark, path, where=("n_nationkey", 0, 2)).count() == 3

    # history stays linear: the pre-restore state is still time-travelable
    assert snapshot_read(spark, path, at_generation=3).count() == 25

    # vacuum reclaims the rolled-back segments, keeps the re-referenced one
    reclaimed = snapshot_vacuum(path)
    assert "gen-00000002" in reclaimed and "gen-00000003" in reclaimed
    assert "gen-00000001" not in reclaimed
    assert snapshot_read(spark, path).count() == 5

    # restoring TO a vacuumed state fails loudly, and the table is intact
    with _pytest.raises(FileNotFoundError):
        snapshot_restore(path, 2)
    assert snapshot_current(path)["generation"] == 4
    # a restore can itself be restored away from (it is just a commit)
    snapshot_append(nation.filter("n_nationkey >= 20"), path)  # gen 5
    man6 = snapshot_restore(path, 4)
    assert man6["generation"] == 6
    assert snapshot_read(spark, path).count() == 5
