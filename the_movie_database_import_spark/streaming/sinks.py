"""Exactly-once streaming JDBC sink ([ext], the streaming twin of
``sources/writers.write_jdbc_exactly_once``).

Structured Streaming has no built-in JDBC sink; the standard shape is
``foreachBatch``, but that alone is only at-least-once: after a failure the
restarted query REPLAYS the last uncommitted micro-batch (same ``batch_id``)
into a sink that may already hold part of it. End-to-end exactly-once needs
the sink itself to be idempotent per ``batch_id`` — the documented
Structured Streaming contract (the (batchId, data) pair is deterministic
under checkpointed replay).

The implementation composes the batch writer's machinery per micro-batch:

1. a LEDGER table ``{table}__ledger_{stream_id}`` records committed batch
   ids — a replayed batch id is skipped wholesale (the idempotence check);
2. the batch stages into a constraint-free clone with an ``Observation``
   riding the write (single computation, same as the batch path), and the
   staged count is verified before anything touches the target;
3. ONE database transaction appends staging to the target AND inserts the
   ledger row — a crash between them rolls back both, so "data committed"
   and "batch recorded" can never diverge.

Scale notes (100 TB posture): per-batch work is the batch writer's — Spark
appends partition-parallel into staging, the swap is a single set-based
INSERT...SELECT inside the database; the ledger adds one indexed-PK row per
micro-batch. The ledger is scoped by ``stream_id`` to the query's
checkpoint lineage: restarting from a FRESH checkpoint restarts batch
numbering at 0, so a new logical run over the same target must use a new
``stream_id`` (or clear the ledger) — the same lineage rule the parquet
file-sink's ``_spark_metadata`` has.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def jdbc_exactly_once_batch_writer(
    url: str,
    table: str,
    *,
    stream_id: str = "s0",
    batch_size: int | None = None,
    properties: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the idempotent ``foreachBatch`` function. Exposed separately so
    tests can drive a replay (same ``batch_id`` twice) without a streaming
    query around it."""
    from ..sources.schema import (
        dialect_from_url,
        drop_table_sql,
        execute_statements,
        execute_transaction,
        query_scalar_long,
        stage_clone_sql,
    )
    from ..sources.writers import DEFAULT_BATCH_SIZE, write_jdbc

    ledger = f"{table}__ledger_{stream_id}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        dialect = dialect_from_url(url)
        execute_statements(  # first batch bootstraps the ledger
            spark, url,
            [f"CREATE TABLE {ledger} (batch_id BIGINT PRIMARY KEY, n_rows BIGINT)"],
            properties=properties, ignore_errors=True,
        )
        committed = query_scalar_long(
            spark, url,
            f"SELECT COUNT(*) FROM {ledger} WHERE batch_id = {int(batch_id)}",
            properties=properties,
        )
        if committed:
            return  # checkpoint replay of an already-committed batch: no-op

        stage = f"{table}__stage_{stream_id}_b{int(batch_id)}"

        def _drop_stage() -> None:
            execute_statements(
                spark, url, [drop_table_sql(stage, dialect)],
                properties=properties, ignore_errors=True,
            )

        _drop_stage()  # leftover from a crash mid-batch
        execute_statements(
            spark, url, [stage_clone_sql(table, stage, dialect)],
            properties=properties,
        )
        try:
            obs = Observation()
            write_jdbc(
                batch_df.observe(obs, F.count(F.lit(1)).alias("rows")),
                url, stage,
                batch_size=batch_size or DEFAULT_BATCH_SIZE,
                properties=properties,
            )
            expected = obs.get["rows"]
            staged = query_scalar_long(
                spark, url, f"SELECT COUNT(*) FROM {stage}", properties=properties
            )
            if staged != expected:
                raise RuntimeError(
                    f"exactly-once stream batch {batch_id} aborted: staging "
                    f"holds {staged} rows but the batch has {expected}"
                )
            cols = ", ".join(batch_df.columns)
            execute_transaction(
                spark, url,
                [
                    f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
                    f"INSERT INTO {ledger} (batch_id, n_rows) "
                    f"VALUES ({int(batch_id)}, {int(staged)})",
                ],
                properties=properties,
            )
        finally:
            _drop_stage()

    return sink


def run_to_jdbc_exactly_once(
    stream_df: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    *,
    stream_id: str = "s0",
    batch_size: int | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """Execute a streaming DataFrame to completion (availableNow) into a
    JDBC table with end-to-end exactly-once semantics: checkpointed source
    offsets + the per-batch-id transactional ledger sink. Append output only
    (stateless transforms, or watermarked aggs emitting finalized rows)."""
    query = (
        stream_df.writeStream.foreachBatch(
            jdbc_exactly_once_batch_writer(
                url, table,
                stream_id=stream_id, batch_size=batch_size, properties=properties,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def snapshot_batch_writer(
    path: str, stats_cols: list[str] | None = None
) -> Callable[[DataFrame, int], None]:
    """Idempotent ``foreachBatch`` function appending micro-batches to a
    snapshot-committed parquet table ([ext], the parquet twin of the
    exactly-once JDBC sink): each batch lands as one immutable segment and
    the manifest replace commits BOTH the data and the batch id in one
    atomic step — so a replayed batch (same ``batch_id`` after a failure
    restart, the Structured Streaming replay contract) is recognized from
    the manifest and skipped wholesale. No ledger table needed: the
    manifest IS the ledger, and its `os.replace` IS the transaction.

    Readers are never disturbed: a scan bound to the pre-batch manifest
    keeps its segment list; concurrent compaction composes the same way
    (`snapshot_compact` carries ``last_batch_id`` through).

    Exposed separately so tests can drive a replay without a streaming
    query around it. Batch numbering is scoped to the checkpoint lineage —
    restarting from a FRESH checkpoint restarts at 0, so a new logical run
    must target a new path (or vacuum + reset), the same lineage rule the
    JDBC ledger documents."""
    from ..sources.writers import snapshot_append, snapshot_current

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cur = snapshot_current(path)
        if cur is not None and cur.get("last_batch_id") is not None:
            if batch_id <= cur["last_batch_id"]:
                return  # replayed batch: already committed, skip wholesale
        snapshot_append(
            batch_df, path, batch_id=batch_id, stats_cols=stats_cols
        )

    return sink


def run_to_snapshot(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
):
    """Run a stream into a snapshot table via the idempotent batch writer.
    ``availableNow`` drains the source and stops (the batch-parity testing
    mode); pass False for a continuous query."""
    writer = stream_df.writeStream.foreachBatch(
        snapshot_batch_writer(path)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def vocab_merge_batch_writer(
    side_path: str, text_col: str = "text"
) -> Callable[[DataFrame, int], None]:
    """Idempotent ``foreachBatch`` function maintaining the incremental
    vocabulary side table from a document stream ([ext], r11 — the
    streaming twin of ``operators.vocab.vocab_merge_incremental``,
    completing the incremental family's stream coverage beside the
    digest/span/minhash twins). Each micro-batch's token counts merge
    into the snapshot table by exact integer sum, and the manifest
    commit records the batch id ATOMICALLY with the merged counts — so
    a replayed batch (Structured Streaming's post-failure contract) is
    recognized and skipped wholesale. This sink MUST be exactly-once
    where the doc sinks tolerate at-least-once: a replayed append
    re-emits rows a reader can dedup, but a replayed COUNT MERGE would
    silently double-count forever. The manifest is the ledger and its
    `os.replace` is the transaction (the snapshot_batch_writer rule,
    applied to a REWRITE-per-batch derived state instead of an append).

    Batch numbering is scoped to the checkpoint lineage — a fresh
    checkpoint restarts at 0, so a new logical run targets a new side
    table (or vacuums + resets), the same lineage rule as the other
    exactly-once sinks."""
    from ..operators.vocab import vocab_merge_incremental
    from ..sources.writers import snapshot_current

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cur = snapshot_current(side_path)
        if cur is not None and cur.get("last_batch_id") is not None:
            if batch_id <= cur["last_batch_id"]:
                return  # replayed batch: counts already merged, skip
        vocab_merge_incremental(
            batch_df, side_path, text_col=text_col, batch_id=batch_id
        )

    return sink
