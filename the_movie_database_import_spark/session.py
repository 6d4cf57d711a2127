"""SparkSession factory with scale-oriented defaults.

On a real cluster these settings arrive via spark-submit; local runs get the
same semantics on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process
may run on). AQE is enabled so that at 100 TB the runtime re-plans: coalesces
small shuffle partitions, splits skewed ones, and demotes/promotes join
strategies based on observed sizes.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_APP_NAME = "the-movie-database-import-spark"

# Every handle an engine operator leaves live past its own return, in one
# list: tracked SQL caches (minhash collapse, ETL parse reuse, ...) and
# RESULT localCheckpoints (the final snapshot an iterative operator
# RETURNS: pagerank's rank table, connected components' label table, the
# pipeline's span table). A long-lived session (the external harness's, a
# notebook's) would otherwise accumulate executor storage across queries
# (r13: every pagerank/CC run pinned its result blocks for the session's
# lifetime; a 4-pass bench sweep accumulated ~1 GB of dead checkpoint
# blocks). :func:`release_caches` retires them when the NEXT registry query
# starts (plans/__init__ wraps every entry) and explicitly at pipeline/bench
# completion points, so at most one query's working set is ever retained.
# The strict build->execute interleave assumption documented on
# plans/__init__._wrap_release applies: re-executing a query's DataFrame
# after the NEXT query was built errors on a freed checkpoint (it cannot
# recompute — lineage is truncated) instead of silently recomputing.
_TRACKED: list[DataFrame] = []


def _checkpoint_rdd(df: DataFrame):
    """The pinned JVM RDD behind a localCheckpointed DataFrame (its analyzed
    plan is a LogicalRDD wrapping the checkpoint RDD), else None. A view of
    a checkpoint (``coalesce``, ``select``) is not one: its plan is a
    Repartition or Project over the LogicalRDD."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None


def retire(*dfs: DataFrame) -> None:
    """Free each handle's storage now: a checkpoint's pinned blocks, a
    cache's SQL cache entry (``blocking=True``: the storage is free when
    this returns). Anything else raises instead of silently leaking, e.g.
    a coalesce view of a checkpoint: retire the checkpoint it reads.
    NEVER retire a checkpoint that a live plan still reads: localCheckpoint
    truncates lineage, so freed blocks cannot be recomputed
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    for df in dfs:
        if df.is_cached:
            df.unpersist(blocking=True)
            continue
        rdd = _checkpoint_rdd(df)
        if rdd is None:
            raise ValueError("retire takes a localCheckpoint or a cached DataFrame")
        rdd.unpersist(False)


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + registration for :func:`release_caches`."""
    df.cache()
    _TRACKED.append(df)
    return df


def track_result_checkpoint(df: DataFrame) -> DataFrame:
    """Register a localCheckpointed RESULT table for retirement by
    :func:`release_caches` (the next registry-query boundary). Raises when
    ``df`` is not itself a checkpoint."""
    if _checkpoint_rdd(df) is None:
        raise ValueError("track_result_checkpoint takes a localCheckpoint")
    _TRACKED.append(df)
    return df


# Budget for data-dependent broadcast sides, in ROWS: at the ~64 B/row
# digest/id/rate rows these sides carry, 8M rows ≈ 512 MB resident per
# executor — comfortably under Spark's 8 GB broadcast hard cap and a
# sensible slice of a typical executor's memory. Sites with wider rows
# pass a smaller budget.
BROADCAST_BUDGET_ROWS = 8_000_000

# Budget for ARRAY-CARRYING broadcast sides (ADVICE r13): a row budget
# assumes ~64 B/row, but a side whose rows carry token/adjacency arrays is
# sized by its total ELEMENT volume, not its row count — 8M rows of
# 200-token documents is multi-GB, past Spark's broadcast cap, where the
# unhinted shuffle join is safe. Sites with array payloads pass the total
# element count (or a provable upper bound) as ``n_rows`` against THIS
# budget: 16M elements ≈ 512 MB at a conservative ~32 B amortized per
# short string token (offsets + bytes + row overhead).
BROADCAST_BUDGET_ARRAY_ELEMS = 16_000_000

# The engine's task sizing: ~64k rows per task.
ROWS_PER_TASK = 65536

# Row budget for the driver-side fast paths (connected components'
# union-find, the BPE trainer's local merge loop): one scan-task's worth of
# rows. Under it, collecting the input and looping on the driver beats one
# distributed round-trip per step; far over it, the Python pass would dwarf
# the job latency it saves. Operators read it at call time, so a test can
# force the distributed branch.
DRIVER_BUDGET_ROWS = ROWS_PER_TASK


def sized_partitions(sc, n_rows: int) -> int:
    """Partition count for an ``n_rows`` table: one per ROWS_PER_TASK rows,
    capped at cluster parallelism, floor 1. localCheckpoint materializes
    the pre-AQE plan, so a small table otherwise keeps shuffle-partition-
    many near-empty blocks and every later scan pays a task per block."""
    return max(1, min(sc.defaultParallelism, n_rows // ROWS_PER_TASK + 1))


def maybe_broadcast(df: DataFrame, *, n_rows: int,
                    budget_rows: int = BROADCAST_BUDGET_ROWS) -> DataFrame:
    """Budget-guarded broadcast hint (VERDICT r06 #3) for a side whose size
    the caller already knows (``n_rows``, or a provable upper bound, from
    pipeline metadata): ``F.broadcast(df)`` within budget, else ``df``
    unhinted so the join plans as a shuffle join (identical semantics; AQE
    handles skew, and its runtime ``autoBroadcastJoinThreshold`` can still
    promote the join if the side turns out small). The decision starts no
    Spark job. A side of unknown size is joined plainly instead: the static
    planner broadcasts it when Catalyst's size estimate is under the
    threshold, and AQE when the observed shuffle size is."""
    return F.broadcast(df) if n_rows <= budget_rows else df


def release_caches() -> int:
    """Retire every tracked handle (:func:`retire`); returns how many.

    Blocking, because the contract is "storage is free when this returns":
    the default async unpersist leaves blocks (and the
    :func:`persistent_rdd_ids` entries tests assert on) alive for an
    unbounded moment after the call — under host load that moment stretches
    into the next query's execution, which is exactly the overlap this
    function exists to prevent. The wait is bounded by block-drop RPCs,
    paid once per query boundary."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            retire(df)
        except Exception:  # session already stopped — nothing to release
            pass
    _TRACKED.clear()
    return n


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of RDDs currently pinned in the executor block store
    (localCheckpoint blocks and cached plans). Tests and the benchmark diff
    it around a run to find pins a run left behind."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_shipped_sessions: set[int] = set()


def _package_zip_path() -> str:
    """Zip this package for executor shipping (cached by newest-source mtime)."""
    newest = 0.0
    for root, _dirs, files in os.walk(_PACKAGE_DIR):
        for f in files:
            if f.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    path = f"/tmp/the_movie_database_import_spark-{int(newest)}.zip"
    if not os.path.exists(path):
        tmp = path + ".part"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(_PACKAGE_DIR):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(_PACKAGE_DIR))
                    zf.write(full, rel)
        os.replace(tmp, path)
    return path


# Whole-stage-codegen classes Spark keeps compiled per JVM
# (``spark.sql.codegen.cache.maxEntries``, default 100). Spark only reuses a
# class for identical generated source, so the size changes no result, only
# how often Janino recompiles. Measured at 4 cores: a steady pass of the 16
# headline queries needs ~200 entries and recompiled 197 classes per pass
# (17.7 ms each, ~3.5 s) under the default; one pass of all 207 registry
# queries at sf0.001 compiled ~3,500 classes against 2,412 distinct entries,
# and with an unbounded cache its second pass compiled 40 (211 s -> 125 s,
# metaspace 233 -> 250 MB). 4096 holds that working set with headroom.
CODEGEN_CACHE_ENTRIES = 4096


def local_cpus() -> int:
    """Cores for ``local[N]``: ``$SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on (its affinity mask, as ``nproc`` counts)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(app_name: str = DEFAULT_APP_NAME) -> SparkSession:
    """Create (or reuse) a tuned SparkSession.

    Shuffle partitions default to the local core count; on a cluster this
    should be ~2-3x total executor cores (or left to AQE coalescing from a
    high initial value).

    The codegen cache size (:data:`CODEGEN_CACHE_ENTRIES`) is a static conf:
    it only takes effect when this call creates the JVM's SparkContext. A
    session created elsewhere (the driver's, a notebook's) keeps Spark's
    default of 100 entries, and :func:`configure_session` cannot change it.
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 4g, as perfbench sets: under 12g a tier-1 run's JVM grew to 9.4 GB
        # resident on a 16 GB, 4-core host (the heap grows to its cap rather
        # than collect); under 4g tier-1 and exact parity at sf0.01 and sf0.1
        # pass with the JVM at 5.2 GB at most.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # NOTE (r13, measured): Spark 4.1's PythonWorkerFactory reaps ALL idle
    # Python workers after a HARD-CODED 1 minute (IDLE_WORKER_TIMEOUT_NS —
    # not configurable; spark.python.worker.idleTimeoutSeconds only logs).
    # Any pipeline with >1 min of JVM-only work between Python stages pays
    # a full per-core worker respawn on the next Arrow/pandas stage
    # (measured: 1.6-1.8 s for a trivial pandas_udf stage at 32 cores, up
    # to ~6 s for the numpy-importing multimodal decoders). Benchmarks of
    # Python-boundary operators in a long mixed sweep therefore carry a
    # respawn tax their standalone runs do not — a platform behavior, not
    # an engine plan cost.
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine depends on.

    Safe to call on an externally created session (e.g. the driver's). It
    sets only runtime confs, so such a session keeps its static ones, among
    them Spark's 100-entry codegen cache (:func:`get_spark` sizes it to
    :data:`CODEGEN_CACHE_ENTRIES`):

    - UTC session timezone → deterministic timestamp arithmetic/windowing
      that matches naive-UTC semantics of parquet TIMESTAMP(ms/ns) columns.
    - ``nanosAsLong`` → Spark has no TIMESTAMP(NANOS) parquet reader; the
      ``events`` table stores ns timestamps, read as long and converted in
      :mod:`sources.readers`.
    - ``addPyFile`` ships this package to executors so Python-UDF stages
      (pandas_udf / mapInPandas) deserialize even when the driver process
      wasn't launched from the repo directory — the same mechanism that
      deploys the package to a real cluster.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = id(spark)
    if key not in _shipped_sessions:
        spark.sparkContext.addPyFile(_package_zip_path())
        _shipped_sessions.add(key)
    return spark
