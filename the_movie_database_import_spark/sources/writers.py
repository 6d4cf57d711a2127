"""Sinks (ref A17-A19 re-expressed).

The reference bulk-loads PostgreSQL with 50k-row ``executemany`` batches
under disabled FK triggers because it writes bridges before their dimension
targets (`loader.py:339-353,:67-78,:597-605`). Here the write ORDER is the
``sources/schema.TABLES`` registry order, in which every table follows the
tables its FKs reference, so constraints can stay on (deviation D4), and
batching maps to the JDBC writer's ``batchsize``.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

from .schema import TABLES

# FK-safe write order (contrast ref B3: bridges-before-dims under disabled
# triggers): the registry's create order.
JDBC_WRITE_ORDER = tuple(t.name for t in TABLES)

DEFAULT_BATCH_SIZE = 50_000  # db_config.json:6


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = DEFAULT_BATCH_SIZE,
    properties: dict[str, str] | None = None,
) -> None:
    """Batched JDBC sink (ref A17): one connection per partition, typed
    values (deviation D5 — the reference stringifies everything,
    `loader.py:356-360`), ``batchsize`` rows per round trip."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_all_jdbc(
    tables: dict[str, DataFrame],
    url: str,
    *,
    batch_size: int = DEFAULT_BATCH_SIZE,
    properties: dict[str, str] | None = None,
) -> None:
    """Write the full table set in FK-safe order (ref A18/A19 replacement)."""
    for name in JDBC_WRITE_ORDER:
        if name in tables:
            write_jdbc(
                tables[name], url, name, batch_size=batch_size, properties=properties
            )


def write_jdbc_exactly_once(
    df: DataFrame,
    url: str,
    table: str,
    *,
    batch_size: int = DEFAULT_BATCH_SIZE,
    properties: dict[str, str] | None = None,
    swap: str = "delete_insert",
    run_id: str | None = None,
) -> None:
    """Exactly-once JDBC load via staging table + atomic swap (SURVEY
    §7.4(5), VERDICT r02 #4, r03 #2/#3).

    Spark's JDBC writer is at-least-once per partition: a mid-write failure
    leaves a partial ``append`` in the target, and a task retry re-inserts
    its whole partition. The reference has the same flaw in different form
    — per-batch commits under disabled triggers (`loader.py:342-343`).
    Here the target table is never touched by Spark at all:

    1. a staging clone is (re)created (permissive for ``delete_insert``,
       schema-identical for ``rename`` — see ``stage_clone_sql``),
    2. Spark appends into STAGING — failures/retries dirty only staging —
       with an ``Observation`` riding the write, so the input row count is
       captured FROM THE WRITE ITSELF (single computation; the old
       ``df.count()`` re-executed the whole pipeline a second time — a real
       cost at 100 TB, and a correctness hole for nondeterministic inputs:
       both numbers now come from the same execution),
    3. the staging row count is verified against the observed count — a
       task retry that re-committed its partition or a speculative
       duplicate shows up as a mismatch and ABORTS before the target is
       touched,
    4. one DB transaction swaps staging into the target — all-or-nothing,
       so the target atomically jumps from its old contents to the complete
       new load (truncate-and-reload semantics, matching the reference's
       drop/create, `loader.py:81-91`),
    5. staging is dropped (also on swap failure).

    ``swap`` selects the transaction in step 4:

    - ``"delete_insert"`` (default): ``DELETE FROM target`` +
      ``INSERT INTO target SELECT FROM staging``. Works everywhere —
      including targets referenced by FKs — but rewrites the full table
      through the DB's WAL twice (staging insert, then target insert).
    - ``"rename"``: three O(1) catalog operations — target→old,
      staging→target, drop old. No second data rewrite; the right choice
      for large FK-free tables. Tables with inbound FK references (per the
      TABLES registry) fall back to ``delete_insert`` automatically — FK
      constraints follow the referenced table through a rename, so the
      renamed-away old target would keep the references. A rename that the
      dialect rejects at runtime (e.g. Derby refuses renaming tables that
      other objects depend on) also falls back: staging is still intact at
      that point, so the DELETE+INSERT swap proceeds from it.

    Concurrency: the staging name is ``{table}__stage`` and is dropped
    unconditionally before the load, so concurrent loads into the SAME
    target destroy each other's staging (surfacing as a spurious
    count-mismatch abort at best) — the writer assumes a single writer per
    target. Pass a distinct ``run_id`` per writer to suffix the staging
    (and rename-scratch) names and lift that assumption.

    Single-table scope: a ``delete_insert`` target referenced by live FK
    rows elsewhere can't be DELETEd — for full-schema loads run
    ``bootstrap_schema`` first and compose per-table swaps in
    ``JDBC_WRITE_ORDER``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from .schema import (
        dialect_from_url,
        drop_table_sql,
        execute_statements,
        execute_transaction,
        inbound_fk_referrers,
        query_scalar_long,
        rename_table_sql,
        stage_clone_sql,
    )

    if swap not in ("delete_insert", "rename"):
        raise ValueError(f"unknown swap mode: {swap!r}")
    spark = df.sparkSession
    dialect = dialect_from_url(url)
    suffix = f"_{run_id}" if run_id else ""
    stage = f"{table}__stage{suffix}"
    use_rename = swap == "rename" and not inbound_fk_referrers(table)

    def _drop(name: str) -> None:
        execute_statements(
            spark, url, [drop_table_sql(name, dialect)],
            properties=properties, ignore_errors=True,
        )

    _drop(stage)
    execute_statements(
        spark, url,
        [stage_clone_sql(table, stage, dialect, full_schema=use_rename)],
        properties=properties,
    )
    try:
        obs = Observation()
        write_jdbc(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            url, stage, batch_size=batch_size, properties=properties,
        )
        expected = obs.get["rows"]
        staged = query_scalar_long(
            spark, url, f"SELECT COUNT(*) FROM {stage}", properties=properties
        )
        if staged != expected:
            raise RuntimeError(
                f"exactly-once load aborted: staging holds {staged} rows but "
                f"the DataFrame has {expected} — a task retry or speculative "
                "duplicate dirtied staging; the target was not touched"
            )
        cols = ", ".join(df.columns)
        delete_insert = [
            f"DELETE FROM {table}",
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
        ]
        if use_rename:
            old = f"{table}__old{suffix}"
            _drop(old)  # leftover scratch from a crashed earlier swap
            try:
                execute_transaction(
                    spark, url,
                    [
                        rename_table_sql(table, old, dialect),
                        rename_table_sql(stage, table, dialect),
                        drop_table_sql(old, dialect),
                    ],
                    properties=properties,
                )
                return  # staging became the target; nothing left to drop
            except Exception:
                # dialect refused the rename (rolled back — names intact);
                # staging is verified-complete, so swap by data movement
                execute_transaction(
                    spark, url, delete_insert, properties=properties
                )
        else:
            execute_transaction(spark, url, delete_insert, properties=properties)
    finally:
        _drop(stage)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet sink ([ext] 100 TB posture): the lake-side twin
    of the JDBC sink — partition columns become directory pruning keys."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_all_parquet(tables: dict[str, DataFrame], base_path: str) -> None:
    for name, df in tables.items():
        write_parquet_partitioned(df, f"{base_path}/{name}")


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed external table sink ([ext] 100 TB posture): pre-shuffles once
    at write time so every later equi-join/aggregation on the bucket key is
    co-located — no Exchange in the join plan (asserted in tests/test_plans.py).

    At 100 TB this is the standard fact-to-fact join strategy: lineitem and
    orders both bucketed by orderkey join with zero shuffle, paying the
    shuffle once at ingest instead of per query. ``sortBy`` additionally
    pre-sorts within buckets so sort-merge joins skip their sort."""
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, *bucket_by)
        .format("parquet")
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Sharded training-set sink ([ext] 100 TB posture): materialize
    :func:`..operators.mixing.shuffle_shards`'s reproducible pseudorandom
    order as one parquet directory per shard, each shard's rows stored in
    training order — the layout an epoch reader streams shard-by-shard
    without any shuffle or sort at TRAINING time.

    Plan shape: shuffle_shards' single hash exchange on the shard id is
    also the write partitioning — ``repartition(shard)`` feeds
    ``partitionBy(shard)`` so each task writes exactly one shard directory
    (no small-file explosion from N tasks x M shards), and
    ``sortWithinPartitions(shard, pos)`` rides the same exchange.
    Sorting on ``(shard, pos)`` — not ``pos`` alone — matters: the V1
    write path REQUIRES an ordering on the partition column and inserts
    its own Sort when the child ordering doesn't satisfy it, which would
    leave within-shard pos order at the mercy of spill-merge stability.
    The explicit ``(shard, pos)`` prefix satisfies the writer's required
    ordering, so no implicit sort is added and the training order is
    guaranteed by the plan, not by an implementation accident (a
    ``Sort [shard, pos]`` directly under the write, pinned in
    tests/test_sinks.py). Determinism:
    the whole layout is a pure function of the ids, so a re-run or a
    backfill writes byte-identical shard contents.
    """
    frame = training_shard_frame(df, n_shards, id_col=id_col)
    frame.write.mode(mode).partitionBy("shard").parquet(path)


def training_shard_frame(
    df: DataFrame, n_shards: int, *, id_col: str = "doc_id"
) -> DataFrame:
    """The exact pre-write frame :func:`write_training_shards` hands to the
    parquet writer — exposed so tests can pin its physical plan (one
    exchange on shard, one explicit ``Sort [shard, pos]`` satisfying the
    partitioned write's required ordering)."""
    from ..operators.mixing import shuffle_shards

    sharded = shuffle_shards(df, n_shards, id_col=id_col)
    return sharded.repartition(n_shards, F.col("shard")).sortWithinPartitions(
        "shard", "pos"
    )


def zorder_value(bucket_cols, bits_per_col: int = 8):
    """Morton (Z-order) interleave of per-column bucket ids — bit i of each
    bucket id lands at bit ``i * n_cols + col_index`` of the combined
    value, so files sorted by it stay clustered in EVERY participating
    dimension at once. Pure JVM bit arithmetic (shiftleft / bitwise and),
    whole-stage-codegen."""
    from pyspark.sql import functions as F

    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for ci, c in enumerate(bucket_cols):
        for bit in range(bits_per_col):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * n + ci,
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    *,
    n_files: int = 16,
    bits_per_col: int = 8,
    mode: str = "overwrite",
    parquet_block_bytes: int | None = None,
) -> None:
    """Z-ordered parquet sink ([ext] 100 TB posture): cluster the layout on
    a Morton interleave of the z-order columns so parquet row-group
    min/max statistics prune MULTI-dimensional predicates — the Delta
    Lake / Iceberg `OPTIMIZE ZORDER BY` technique, built from Spark
    primitives.

    A single-column sort gives perfect pruning on that column and none on
    any other; the Z-curve trades a little per-column locality for
    locality in EVERY listed column, so a selective filter on ANY of them
    (or a box on several) skips most row groups storage-side.
    tests/test_sinks.py::test_zordered_layout_prunes_multi_dim pins the
    effect (sf0.1 fractions: `git show 691c719:tools/zorder_showcase.py`).

    Scale shape: per-column equal-width bucket ids come from one tiny
    min/max aggregate (2 scalars per column, broadcast back in-plan via a
    one-row crossJoin — the corpus never moves for statistics);
    `repartitionByRange` on the z-value range-samples exactly like any
    global sort (one shuffle, the same cost bucketing pays once at
    ingest); files are written sorted within range so row groups get
    tight min/max bounds."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[
            a
            for c in zorder_by
            for a in (
                F.min(c).cast("double").alias(f"_min_{c}"),
                F.max(c).cast("double").alias(f"_max_{c}"),
            )
        ]
    )
    n_buckets = (1 << bits_per_col) - 1
    with_stats = df.crossJoin(F.broadcast(stats))
    buckets = []
    for c in zorder_by:
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - lo) / span
        buckets.append(
            F.least(
                F.lit(n_buckets),
                F.greatest(F.lit(0), F.floor(frac * n_buckets).cast("long")),
            )
        )
    zval = zorder_value(buckets, bits_per_col)
    writer = (
        with_stats.withColumn("_z", zval)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[f"_min_{c}" for c in zorder_by], *[f"_max_{c}" for c in zorder_by])
        .write.mode(mode)
    )
    if parquet_block_bytes is not None:
        # smaller row groups = finer min/max pruning granularity; a 100 TB
        # table has thousands of row groups regardless of this knob
        writer = writer.option("parquet.block.size", str(parquet_block_bytes))
    writer.parquet(path)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction ([ext] the table-maintenance op every
    long-lived parquet dataset needs — Delta/Iceberg ``OPTIMIZE``):
    streaming and incremental writers accrete thousands of tiny files,
    and at 100 TB the driver's file-listing, the footer reads, and the
    per-file task overhead come to dominate scan cost long before the
    bytes do. Rewrites ``path`` as ``ceil(total_bytes /
    target_file_bytes)`` files (optionally re-sorted for row-group
    locality) and swaps atomically-enough for a single-writer
    maintenance window: write to a sibling temp dir, rename the old
    directory ASIDE (``path._old``), rename the temp into place, then
    delete the aside copy. Crash contract (ADVICE r09): EVERY ROW
    survives any crash ordering — each rename is atomic, so the data is
    always fully present in ``path``, ``path._old``, or the temp dir —
    but between the two renames the canonical path itself briefly does
    not exist, so a crash in that window leaves a recoverable
    ``._old`` rather than an intact canonical path (single-writer
    maintenance-window semantics, not serving semantics). For true
    reader isolation — a scan of generation N unaffected by a
    concurrent compaction committing N+1 — use the snapshot protocol
    (``snapshot_write`` / ``snapshot_read`` / ``snapshot_compact``
    below), whose manifest ``os.replace`` IS the single atomic commit a
    table format provides.

    Returns ``{"files_before", "files_after", "bytes", "rows"}``; row
    count is re-verified after the swap (fail-loud, not fail-quiet).

    Scale shape: one read + one write; ``repartition(n)`` (round-robin)
    when unsorted — even output sizes regardless of input skew — or
    ``repartitionByRange(n, sort_cols)`` + in-partition sort when a
    clustering is requested (pay the compaction ANYWAY, collect the
    z-order/sort locality for free).
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    n_rows = df.count()
    files = []
    for root, _, names in os.walk(path):
        files.extend(
            os.path.join(root, f) for f in names if f.endswith(".parquet")
        )
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "._compact_tmp"
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(tmp)
    back = spark.read.parquet(tmp)
    n_check = back.count()
    if n_check != n_rows:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row mismatch: {n_rows} -> {n_check}; source untouched"
        )
    old = path.rstrip("/") + "._old"
    if os.path.exists(old):  # leftover from a previous crashed swap
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [
        f
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    ]
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
        "rows": n_rows,
    }


# --------------------------------------------------------------------------
# Snapshot protocol: manifest-committed parquet segments
# --------------------------------------------------------------------------
# The raw-parquet analogue of a table format's metadata commit (Delta's
# _delta_log, Iceberg's metadata.json — in spirit, a few fields deep): data
# lives in immutable segment directories `gen-%08d` (named for the commit
# that created them), and ONE tiny JSON manifest lists the segments that
# make up the current table state. Commit = write manifest sideways +
# `os.replace` (atomic on POSIX), so readers observe either the old state
# or the new one, never a half-swapped directory — and because a commit
# never deletes superseded segments' files, a reader that already bound
# state N keeps scanning N undisturbed while N+1 lands (snapshot
# isolation). Appends add a segment; compaction rewrites the segment list
# to one; superseded segments are reclaimed explicitly by
# `snapshot_vacuum`, the same read/maintenance split every table format
# makes. Concurrent committers (r10, VERDICT r09 #5): data stages into a
# UNIQUELY-NAMED temp dir (never a generation name, so a crash before
# commit can never wedge a later commit), and the commit critical section
# — re-read manifest, generation check, rename temp -> gen-N, manifest
# replace — runs under an advisory `flock` on `_COMMIT.lock` (kernel-
# released on process death, so no stale-lock recovery is needed).
# POSIX rename cannot compare-and-swap by itself; the flock supplies the
# mutual exclusion that turns check-then-replace into a real CAS for
# local filesystems (on storage without lock semantics — S3 — this
# degrades to check-then-replace with the race window between check and
# replace, which is exactly why real table formats put the CAS in a
# catalog service). Semantics mirror Delta's conflict matrix:
# `snapshot_write` (replace) and `snapshot_compact` REJECT with
# `SnapshotConflictError` when the table's generation moved past their
# base — a stale truncate/rewrite must never silently drop a concurrent
# commit's segment; `snapshot_append` REBASES onto the current manifest
# (a blind append conflicts with nothing), unless the caller pins
# `expected_generation`, which makes the append CAS-strict too.
# The streaming sink (`streaming/sinks.stream_snapshot_sink`) records the
# last committed micro-batch id in the manifest, making batch replay after
# a failure idempotent — the same exactly-once recipe as the JDBC sink,
# with the manifest replace as the transaction.

_MANIFEST_NAME = "_MANIFEST.json"


class SnapshotConflictError(RuntimeError):
    """A commit found the table generation moved past its base: the
    committer's rewrite (snapshot_write / snapshot_compact, or a
    generation-pinned append) was derived from a superseded state, so
    publishing it would silently drop a concurrent commit's rows. The
    staged temp segment is cleaned up before raising; retry by re-reading
    the table and recomputing."""


def _manifest_path(path: str) -> str:
    import os

    return os.path.join(path, _MANIFEST_NAME)


@contextmanager
def _commit_lock(path: str):
    """Advisory exclusive lock for the commit critical section: `flock` on
    `_COMMIT.lock` in the table directory. Kernel-owned, so a crashed
    committer releases it automatically — no stale-lock recovery path.
    Guards manifest read -> generation check -> segment rename ->
    manifest replace; readers never take it (they only `os.replace`-read
    the manifest, which is atomic on its own)."""
    import fcntl
    import os

    fd = os.open(
        os.path.join(path, "_COMMIT.lock"), os.O_CREAT | os.O_RDWR, 0o644
    )
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


_NUMERIC_TYPE_NAMES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def _stat_kind(df: DataFrame, col: str) -> str:
    """Pruning comparison semantics for a stat column, RECORDED IN THE
    MANIFEST at write time (ADVICE r09: inferring numericness from whether
    the stat strings parse as floats is wrong — a STRING column's min/max
    are lexicographic extremes, e.g. ['10','9','3'] has min '10', and
    comparing those as numbers prunes segments whose rows match the
    lexicographic row filter). ``num`` = the column's own comparison is
    numeric; ``lex`` = lexicographic (strings, and ISO-formatted
    dates/timestamps, whose string order equals their value order)."""
    dt = dict(df.dtypes).get(col, "")
    return (
        "num"
        if dt in _NUMERIC_TYPE_NAMES or dt.startswith("decimal")
        else "lex"
    )


def snapshot_current(path: str) -> dict | None:
    """Read the committed manifest: ``{"generation": int, "dirs": [str],
    "rows": int}`` (plus ``last_batch_id`` when a streaming sink owns the
    table) — or None for a directory with no manifest (not
    snapshot-managed, or first write not yet committed)."""
    import json
    import os

    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return None
    with open(mp) as fh:
        return json.load(fh)


def _snapshot_commit(path: str, manifest: dict) -> None:
    """Atomically publish ``manifest``: write a sibling temp file, fsync,
    `os.replace` over the manifest name. The replace is the COMMIT POINT
    — everything before it is invisible to readers, everything after it
    is the new table state; a crash on either side leaves a consistent
    table (old manifest, or new manifest over fully-written data)."""
    import json
    import os

    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    # immutable per-generation copy FIRST (time travel / audit trail),
    # then the atomic current-pointer replace — a crash between them
    # leaves the old current manifest with an orphan history file, never
    # a current state without its history entry
    hist = os.path.join(
        path, f"_MANIFEST.v{manifest['generation']:08d}.json"
    )
    with open(hist, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _manifest_path(path))


def _segment_stats(spark, full: str, stats_cols: list[str]) -> tuple[int, dict]:
    """One aggregate over the freshly-written segment: row count plus
    per-column min/max for the declared stat columns (the parquet footers
    already hold these per row group, so the scan is footer-cheap). Values
    serialize as strings — JSON-safe for timestamps/decimals; pruning
    compares after a cast back through the column's own type."""
    back = spark.read.parquet(full)
    aggs = [F.count(F.lit(1)).alias("_n")]
    present = [c for c in stats_cols if c in back.columns]
    for c in present:
        aggs.append(F.min(F.col(c)).cast("string").alias(f"_lo_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"_hi_{c}"))
    row = back.agg(*aggs).collect()[0]
    stats = {
        c: [row[f"_lo_{c}"], row[f"_hi_{c}"]]
        for c in present
        if row[f"_lo_{c}"] is not None
    }
    return row["_n"], stats


def _clear_orphan_generation(path: str, seg: str) -> None:
    """Delete an UNREFERENCED ``gen-N`` directory that is about to be
    (re)created. By construction any existing directory named for a
    generation ABOVE the current manifest's is an orphan — a committer
    that crashed between its segment rename and its manifest replace
    (the only window that can produce one). Clearing it under the commit
    lock un-wedges the table instead of failing the rename forever
    (ADVICE r09)."""
    import os
    import shutil

    full = os.path.join(path, seg)
    if os.path.exists(full):
        shutil.rmtree(full)


def _snapshot_add_segment(
    df: DataFrame,
    path: str,
    *,
    replace: bool,
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
    expected_generation: int | None = None,
    meta: dict | None = None,
) -> dict:
    """Write ``df`` as a new immutable segment and commit it — appended to
    the current segment list, or replacing it (``replace=True``). The data
    stages entirely in a uniquely-named ``.seg-<uuid>`` temp dir — NEVER a
    generation name, so a crash before commit leaves an inert orphan temp
    (reclaimed by `snapshot_vacuum`) rather than a directory that blocks
    the next commit's generation. The commit critical section (under
    `_commit_lock`): re-read the manifest, check the generation, rename
    the temp to ``gen-N``, replace the manifest.

    Concurrency contract (VERDICT r09 #5): ``replace=True`` raises
    `SnapshotConflictError` when the generation moved past the base read
    at entry — a stale truncate must not silently drop a concurrent
    commit. Appends REBASE onto whatever manifest is current (blind
    appends conflict with nothing, Delta's append rule) unless the caller
    pins ``expected_generation``, which makes the append CAS-strict.

    ``stats_cols`` (sticky: once declared, later appends inherit them
    from the manifest) records per-segment min/max in the manifest for
    `snapshot_read` segment pruning — the one-field-deep version of
    Delta's file-level stats — together with each column's comparison
    kind (``stat_types``: num/lex), so pruning always compares the way
    the row filter does.

    ``meta`` is opaque caller metadata committed ATOMICALLY with the data
    (the persisted-ANN-index hook: the codebooks sidecar becomes visible
    only when the codes segment commits). Appends without ``meta`` carry
    the table's existing meta forward; a replace without ``meta`` drops
    it (truncate-and-reload is a fresh table state)."""
    import os
    import shutil
    import uuid

    os.makedirs(path, exist_ok=True)
    base = snapshot_current(path)
    base_gen = base["generation"] if base else 0
    pinned = expected_generation is not None
    want_gen = expected_generation if pinned else base_gen
    tmp_seg = f".seg-{uuid.uuid4().hex}"
    tmp_full = os.path.join(path, tmp_seg)
    df.write.mode("errorifexists").parquet(tmp_full)
    cols = stats_cols or (base or {}).get("stats_cols") or []
    rows, seg_stats = _segment_stats(df.sparkSession, tmp_full, cols)
    kinds = {c: _stat_kind(df, c) for c in seg_stats}
    with _commit_lock(path):
        cur = snapshot_current(path)
        cur_gen = cur["generation"] if cur else 0
        if (replace or pinned) and cur_gen != want_gen:
            shutil.rmtree(tmp_full)
            raise SnapshotConflictError(
                f"snapshot commit to {path} based on generation {want_gen} "
                f"but generation {cur_gen} is current; "
                + ("truncate/rewrite" if replace else "pinned append")
                + " rejected, staged segment discarded"
            )
        gen = cur_gen + 1
        seg = f"gen-{gen:08d}"
        _clear_orphan_generation(path, seg)
        os.rename(tmp_full, os.path.join(path, seg))
        dirs = [seg] if (replace or cur is None) else [*cur["dirs"], seg]
        total = rows if (replace or cur is None) else cur["rows"] + rows
        manifest = {"generation": gen, "dirs": dirs, "rows": total}
        # Sticky stats_cols derive from CUR (read under the lock), not the
        # pre-lock base: a blind append rebases onto whatever manifest is
        # current, and a concurrent commit may have declared stats_cols
        # between the base read and this commit — dropping them here would
        # silently discard the concurrent commit's pruning metadata
        # (ADVICE r10). If cur declared columns this append did not compute
        # stats for, its segment simply has no stats entry — snapshot_read
        # keeps statless segments conservatively, so reads stay exact.
        sticky = stats_cols or (cur or {}).get("stats_cols") or cols
        if sticky:
            manifest["stats_cols"] = sticky
            old_stats = {} if replace else dict((cur or {}).get("stats", {}))
            if cols:
                old_stats[seg] = seg_stats
            manifest["stats"] = {
                d: old_stats[d] for d in dirs if d in old_stats
            }
            old_kinds = (
                {} if replace else dict((cur or {}).get("stat_types", {}))
            )
            old_kinds.update(kinds)
            manifest["stat_types"] = old_kinds
        if meta is not None:
            manifest["meta"] = meta
        elif not replace and cur and "meta" in cur:
            manifest["meta"] = cur["meta"]
        if batch_id is not None:
            manifest["last_batch_id"] = batch_id
        elif cur and "last_batch_id" in cur:
            manifest["last_batch_id"] = cur["last_batch_id"]
        _snapshot_commit(path, manifest)
    return manifest


def snapshot_write(
    df: DataFrame,
    path: str,
    stats_cols: list[str] | None = None,
    expected_generation: int | None = None,
    meta: dict | None = None,
    batch_id: int | None = None,
) -> dict:
    """Write ``df`` as the ENTIRE next table state (truncate-and-reload
    semantics — the manifest's segment list becomes just the new segment;
    prior segments become vacuum-reclaimable). ``stats_cols`` declares the
    columns whose per-segment min/max the manifest tracks for segment
    pruning (sticky for later appends). Optimistic concurrency: raises
    `SnapshotConflictError` when another commit landed after this
    writer's base state (the generation read at entry, or
    ``expected_generation`` when pinned) — a truncate derived from a
    stale read must not silently drop concurrent commits. ``meta`` is
    opaque caller metadata committed atomically with the data.
    ``batch_id`` records a streaming replay-ledger entry in the manifest
    atomically with the rewrite (the exactly-once pattern for DERIVED
    state tables a stream REWRITES per batch — e.g. the incremental
    vocab merge — where appends' ledger semantics don't apply). Returns
    the committed manifest."""
    return _snapshot_add_segment(
        df,
        path,
        replace=True,
        stats_cols=stats_cols,
        expected_generation=expected_generation,
        meta=meta,
        batch_id=batch_id,
    )


def snapshot_append(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    stats_cols: list[str] | None = None,
    expected_generation: int | None = None,
) -> dict:
    """APPEND ``df`` as a new segment of the table (ingest semantics): the
    commit extends the current segment list, touching no existing file —
    O(increment) work however large the table. ``batch_id`` is recorded in
    the manifest when given (the streaming sink's replay guard).
    Concurrency: a blind append REBASES onto whatever manifest is current
    at commit time (it conflicts with nothing — Delta's append rule);
    pass ``expected_generation`` to make it CAS-strict instead (raises
    `SnapshotConflictError` on mismatch)."""
    return _snapshot_add_segment(
        df,
        path,
        replace=False,
        batch_id=batch_id,
        stats_cols=stats_cols,
        expected_generation=expected_generation,
    )


def _stat_overlaps(stat: list, lo, hi, kind: str) -> bool:
    """Typed overlap test between a segment's [min, max] (strings in the
    manifest) and a query interval, using the comparison KIND the
    manifest recorded for the column at write time (``num`` or ``lex`` —
    ADVICE r09: guessing from whether values parse as floats silently
    pruned matching rows for STRING columns with numeric-looking values,
    whose manifest min/max are lexicographic extremes). An unknown kind
    conservatively keeps the segment. None bounds are open."""

    def _cast(x):
        try:
            return float(x)
        except (TypeError, ValueError):
            return None

    s_lo, s_hi = stat[0], stat[1]
    if kind == "num":
        nums = [_cast(v) for v in (s_lo, s_hi, lo, hi)]
        if any(
            n is None and v is not None
            for n, v in zip(nums, (s_lo, s_hi, lo, hi))
        ):
            return True  # unparseable bound on a numeric column: keep
        s_lo, s_hi, lo, hi = nums
    elif kind == "lex":
        s_lo, s_hi, lo, hi = (
            str(v) if v is not None else None for v in (s_lo, s_hi, lo, hi)
        )
    else:
        return True  # no recorded kind (pre-r10 manifest): never prune
    if hi is not None and s_lo is not None and s_lo > hi:
        return False
    if lo is not None and s_hi is not None and s_hi < lo:
        return False
    return True


def snapshot_read(
    spark,
    path: str,
    where: tuple | None = None,
    at_generation: int | None = None,
) -> DataFrame:
    """Bind the CURRENT committed table state and return a DataFrame over
    its segments. The binding is by segment directory list, so a later
    commit (append or compaction) does not perturb this plan — the files
    it scans are immutable until `snapshot_vacuum` reclaims them.

    ``at_generation=N`` TIME-TRAVELS: binds the table as of commit N via
    its immutable per-generation manifest copy (`_MANIFEST.v%08d.json`) —
    valid as long as that state's segments have not been vacuumed
    (reading a reclaimed state fails loudly at scan, never silently
    partially); the manifest history itself is a KB-scale audit trail
    that vacuum leaves in place.

    ``where=(col, lo, hi)`` (either bound may be None) applies the range
    filter AND prunes segments whose manifest [min, max] cannot overlap it
    — data skipping one level ABOVE parquet's row-group stats: pruned
    segments are never listed, no footer is read (the cost layer that
    dominates at millions of files). Semantically exact: the row filter
    still applies to surviving segments; segments lacking stats for the
    column are conservatively kept."""
    import json
    import os

    if at_generation is not None:
        hist = os.path.join(path, f"_MANIFEST.v{at_generation:08d}.json")
        if not os.path.exists(hist):
            raise FileNotFoundError(
                f"no manifest for generation {at_generation} under {path}"
            )
        with open(hist) as fh:
            cur = json.load(fh)
    else:
        cur = snapshot_current(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot manifest under {path}")
    dirs = list(cur["dirs"])
    if where is not None:
        col, lo, hi = where
        stats = cur.get("stats", {})
        kind = cur.get("stat_types", {}).get(col, "")
        dirs = [
            d
            for d in dirs
            if col not in stats.get(d, {})
            or _stat_overlaps(stats[d][col], lo, hi, kind)
        ]
        if not dirs:
            # every segment pruned: an empty frame with the table schema
            full = spark.read.parquet(
                *[os.path.join(path, d) for d in cur["dirs"]]
            )
            return full.filter(F.lit(False))
    df = spark.read.parquet(*[os.path.join(path, d) for d in dirs])
    if where is not None:
        col, lo, hi = where
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def snapshot_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """OPTIMIZE under snapshot isolation: rewrite the current segment list
    as ``ceil(bytes / target_file_bytes)`` files (optionally range-
    clustered on ``sort_cols``) into ONE new segment and commit via the
    manifest replace. Readers bound to the prior state are untouched —
    their files are not deleted, moved, or appended to; new readers bind
    the compacted state. Row count re-verified before the commit
    (fail-loud), and the commit is CAS-guarded like `snapshot_write`: a
    compaction is a REWRITE of the state it read, so if any commit landed
    while it ran (e.g. a streaming append), publishing the rewrite would
    silently drop that segment — it raises `SnapshotConflictError`
    instead and the caller re-runs against the fresh state. Returns
    ``{"files_before", "files_after", "bytes", "rows", "generation"}``."""
    import math
    import os
    import shutil
    import uuid

    cur = snapshot_current(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot manifest under {path}")
    base_gen = cur["generation"]
    srcs = [os.path.join(path, d) for d in cur["dirs"]]
    df = spark.read.parquet(*srcs)
    n_rows = df.count()
    files = [
        os.path.join(root, f)
        for src in srcs
        for root, _, names in os.walk(src)
        for f in names
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_out)
    tmp_full = os.path.join(path, f".seg-{uuid.uuid4().hex}")
    out.write.mode("errorifexists").parquet(tmp_full)
    n_check = spark.read.parquet(tmp_full).count()
    if n_check != n_rows:
        shutil.rmtree(tmp_full)
        raise RuntimeError(
            f"compaction row mismatch: {n_rows} -> {n_check}; "
            f"generation {base_gen} remains current"
        )
    after = [
        f
        for root, _, names in os.walk(tmp_full)
        for f in names
        if f.endswith(".parquet")
    ]
    seg_stats = None
    if cur.get("stats_cols"):
        _, seg_stats = _segment_stats(spark, tmp_full, cur["stats_cols"])
    with _commit_lock(path):
        now = snapshot_current(path)
        if now is None or now["generation"] != base_gen:
            shutil.rmtree(tmp_full)
            raise SnapshotConflictError(
                f"compaction of {path} read generation {base_gen} but "
                f"generation {now['generation'] if now else 'none'} is "
                "current; rewrite rejected, staged segment discarded"
            )
        gen = base_gen + 1
        seg = f"gen-{gen:08d}"
        _clear_orphan_generation(path, seg)
        os.rename(tmp_full, os.path.join(path, seg))
        manifest = {"generation": gen, "dirs": [seg], "rows": n_rows}
        if cur.get("stats_cols"):
            manifest["stats_cols"] = cur["stats_cols"]
            manifest["stats"] = {seg: seg_stats}
            if cur.get("stat_types"):
                manifest["stat_types"] = cur["stat_types"]
        if "meta" in cur:
            manifest["meta"] = cur["meta"]
        if "last_batch_id" in cur:
            manifest["last_batch_id"] = cur["last_batch_id"]
        _snapshot_commit(path, manifest)
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
        "rows": n_rows,
        "generation": gen,
    }


def snapshot_vacuum(path: str, keep: int = 1) -> list[str]:
    """Reclaim segments the current manifest no longer references, keeping
    the ``keep - 1`` most recent unreferenced ones as grace for in-flight
    readers (the honest posture: a manifest has no reader registry, so the
    grace window is the caller's contract, exactly as with Delta's VACUUM
    retention). Referenced segments are never touched. Also reclaims
    ``.seg-*`` STAGING orphans — temp dirs left by committers that
    crashed before their commit (never referenced by any manifest) —
    and ``_pqindex-*.json`` MODEL SIDECARS the current manifest's
    ``meta.model_file`` no longer references (ADVICE r10: a sidecar is
    written before its commit, so an aborted `pq_index_build` strands
    one, and every index rebuild supersedes one; like segments, a
    vacuumed sidecar makes time-traveling to the index state that
    referenced it fail loudly at load, never silently).
    Like Delta's VACUUM, this assumes no write is IN FLIGHT against the
    table during the maintenance window (an in-flight commit's staged
    temp is indistinguishable from a crashed one's). Returns the deleted
    directory/file names."""
    import os
    import re
    import shutil

    cur = snapshot_current(path)
    if cur is None:
        return []
    segs = sorted(
        d
        for d in os.listdir(path)
        if re.fullmatch(r"gen-\d{8}", d)
        and os.path.isdir(os.path.join(path, d))
    )
    unreferenced = [d for d in segs if d not in set(cur["dirs"])]
    doomed = unreferenced[: max(0, len(unreferenced) - (keep - 1))] if keep > 1 else unreferenced
    doomed += sorted(
        d
        for d in os.listdir(path)
        if d.startswith(".seg-") and os.path.isdir(os.path.join(path, d))
    )
    for d in doomed:
        shutil.rmtree(os.path.join(path, d))
    live_model = (cur.get("meta") or {}).get("model_file")
    stale_sidecars = sorted(
        f
        for f in os.listdir(path)
        if f.startswith("_pqindex-")
        and f.endswith(".json")
        and f != live_model
        and os.path.isfile(os.path.join(path, f))
    )
    for f in stale_sidecars:
        os.remove(os.path.join(path, f))
    return doomed + stale_sidecars


def snapshot_restore(
    path: str, to_generation: int, expected_generation: int | None = None
) -> dict:
    """RESTORE the table to a prior committed state (Delta's `RESTORE
    TABLE ... VERSION AS OF` — the bad-ingest undo button): commit a NEW
    generation whose segment list, row count, stats, and meta are those
    of generation ``to_generation``. History stays LINEAR and append-only
    — nothing is deleted or rewritten, the restore is one manifest commit
    re-referencing the old state's immutable segments, so it is O(1)
    however large the table, readers bound to the pre-restore state are
    untouched, and the restore itself can be time-traveled past or
    restored away from. Because the current manifest re-references the
    restored segments, `snapshot_vacuum` afterwards reclaims the rolled-
    back generations' segments and keeps the restored data live.

    Fails loudly (FileNotFoundError) when the target state's manifest
    history entry is missing or any of its segments was already vacuumed
    — a restore must never commit a state whose data is partially gone.
    Concurrency: the read-check-commit runs entirely under the commit
    lock, so a blind restore linearizes like an append (it drops whatever
    is current BY DESIGN — that is what restore means); pass
    ``expected_generation`` to make it CAS-strict (raises
    `SnapshotConflictError` when the table moved past the state the
    operator decided to roll back from — the right mode for an automated
    rollback job that must not clobber a fix racing it)."""
    import json
    import os

    hist = os.path.join(path, f"_MANIFEST.v{to_generation:08d}.json")
    if not os.path.exists(hist):
        raise FileNotFoundError(
            f"no manifest for generation {to_generation} under {path}"
        )
    with open(hist) as fh:
        target = json.load(fh)
    with _commit_lock(path):
        # segment-liveness check INSIDE the lock: a commit racing this
        # restore can un-reference target segments and a vacuum could then
        # reclaim them; checking under the lock closes the commit race
        # (vacuum itself is lock-free by contract — its maintenance-window
        # assumption covers restores like any other committer)
        missing = [
            d
            for d in target["dirs"]
            if not os.path.isdir(os.path.join(path, d))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {path} to generation {to_generation}: "
                f"segments {missing} were vacuumed"
            )
        cur = snapshot_current(path)
        cur_gen = cur["generation"] if cur else 0
        if expected_generation is not None and cur_gen != expected_generation:
            raise SnapshotConflictError(
                f"restore of {path} pinned to generation "
                f"{expected_generation} but generation {cur_gen} is "
                "current; restore rejected"
            )
        manifest = dict(target)
        manifest["generation"] = cur_gen + 1
        _snapshot_commit(path, manifest)
    return manifest
