"""Structured Streaming slice ([ext]; the reference is batch-only,
SURVEY.md §2.1).

Design: every window transform is written against a plain DataFrame so the
SAME function body serves batch and streaming — the batch path is the DuckDB
oracle (plans/streaming_batch.py), the streaming path is validated by
batch/stream parity (tests/test_streaming.py).

Scale notes: event-time windows + watermarks keep state bounded (late data
beyond the watermark is dropped); `availableNow` gives incremental backfill
over file sources with the same semantics a live Kafka source would see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import configure_session
from ..sources.readers import read_parquet


def _events_raw_schema(ts_is_long: bool) -> StructType:
    """Stream-source schema for the events table. ``ts`` on disk is either
    TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ) or TIMESTAMP(NANOS)
    (readable only as a long under spark.sql.legacy.parquet.nanosAsLong) —
    the file source needs the schema up front, so the batch reader's footer
    schema decides which variant applies."""
    from pyspark.sql.types import TimestampNTZType

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_long else TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with event-time `ts`.

    A production deployment swaps this for a Kafka/Kinesis source; every
    transform downstream is source-agnostic. The on-disk timestamp encoding
    is probed from the parquet footer (the batch reader's per-file-version
    cached schema) so both the TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    encodings stream correctly — same adaptivity as the batch ``load_table``.
    """
    configure_session(spark)
    ts_is_long = (
        dict(read_parquet(spark, f"{sf_dir}/events.parquet").dtypes).get("ts")
        == "bigint"
    )
    # The file source requires a directory; pathGlobFilter narrows the
    # listing to the events table inside the shared sf_dir.
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_is_long))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_long:
        # Exact integer division (`div`), matching load_table: double `/`
        # loses integer exactness above 2^53 and can skew truncation by 1 µs.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Watermarks require TIMESTAMP (not TIMESTAMP_NTZ); the session tz is
    # pinned to UTC by configure_session, so the cast is an exact relabel —
    # identical to the batch twins' ts.cast("timestamp").
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling window counts + value totals per event_type."""
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(9,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """1-hour window sliding every 30 minutes."""
    avg_value = F.sum(F.col("value").cast("decimal(9,2)")).cast("double") / F.count("value")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n_events"), avg_value.alias("avg_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user with an inactivity gap."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(9,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


def watermarked_tumbling_agg(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Tumbling agg with a watermark: state for windows older than
    max(event-time) - delay is evicted; later-than-watermark data dropped.
    Append-mode emits only finalized windows."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) with bounded state
    (`dropDuplicatesWithinWatermark`) — the streaming form of ref A7's
    first-wins registration with state eviction for unbounded streams."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` ([ext]
    SURVEY.md §2 streaming): per-user running event count + exact value
    total, maintained in explicit per-key state across micro-batches.

    This is the escape hatch for stateful logic Spark's built-in windowed
    aggregations can't express (per-key counters, custom sessionization,
    CDC-style merge). State is partitioned by key across executors and
    checkpointable; money totals are kept as integer cents (the input
    doubles are exact 2-decimal values), so cross-batch accumulation is
    associative and exact — the batch groupBy twin hash-matches.

    Each update emits the key's NEW running totals, so in update output
    mode the LAST row per user equals the all-data batch aggregate
    (tests/test_streaming.py asserts exactly that across 4 micro-batches).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def interval_join_views_to_purchases(
    views: DataFrame, purchases: DataFrame, max_lag: str = "2 hours"
) -> DataFrame:
    """Stream-stream event-time interval join ([ext] SURVEY.md §2 streaming):
    attribute each purchase to the same user's preceding views within
    ``max_lag`` — the canonical ad-attribution / funnel join.

    The join condition is equi (user_id) + a BOUNDED event-time range, which
    is exactly what lets Structured Streaming run it with finite state: with
    watermarks on both inputs, a buffered view can be evicted once the
    watermark passes view_ts + max_lag (no purchase can match it anymore),
    and vice versa — state is O(events inside the lag horizon), not O(stream).
    In batch the same plan is a sort-merge join on user_id with the range as
    a post-condition. Same function body serves both; the batch twin
    (q_stream_stream_join) carries the DuckDB oracle and the streaming side
    is checked by batch/stream parity.

    The caller applies ``withWatermark`` on both inputs for the streaming
    case (required for append-mode stream-stream joins); batch inputs pass
    through unchanged.
    """
    v = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr(f"INTERVAL {max_lag}")
            ),
            "inner",
        )
        # NTZ can't cast straight to long; via TIMESTAMP it's an exact relabel
        # under the UTC session tz (same move as the watermark cast above).
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                F.col("purchase_ts").cast("timestamp").cast("long")
                - F.col("view_ts").cast("timestamp").cast("long")
            ).alias("lag_s"),
        )
    )


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    partition_by: list[str] | None = None,
) -> None:
    """Execute a streaming DataFrame to completion with availableNow into a
    parquet file sink — the durable lake-side sink (append mode only, so the
    input must be an append-capable stream: watermarked windows after their
    watermark closes, or stateless transforms). The checkpoint directory
    carries offsets + sink metadata for exactly-once file commits across
    restarts — at scale this is the canonical incremental-ingest shape."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    query = writer.start()
    query.awaitTermination()


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion with availableNow into an
    in-memory table; returns the batch DataFrame of results."""
    spark = stream_df.sparkSession
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


def stream_jsonl(
    spark: SparkSession,
    dir_path: str,
    schema,  # StructType
    *,
    corrupt_col: str = "_corrupt_record",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming JSONL ingest ([ext]): watch a corpus drop-folder and
    process new dump files incrementally — the streaming twin of
    ``sources.readers.scan_jsonl`` with the same explicit schema and
    corrupt-line quarantine semantics, so the audit filter
    (``corrupt_col IS NOT NULL``) works identically on both paths and a
    batch backfill agrees row-for-row with the stream.

    ``max_files_per_trigger`` bounds per-microbatch work when a producer
    drops many files at once (backpressure on file count). Downstream
    transforms are source-agnostic; swap for Kafka with the JSON lines as
    values + ``from_json`` when ingest moves off files."""
    from pyspark.sql.types import StringType, StructField, StructType

    configure_session(spark)
    if corrupt_col in {f.name for f in schema.fields}:
        raise ValueError(f"schema already contains {corrupt_col!r}")
    full = StructType([*schema.fields, StructField(corrupt_col, StringType())])
    reader = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(dir_path)


def stream_incremental_dedup(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Streaming twin of ``operators.delta.incremental_dedup`` ([ext]
    training-data pipeline): continuously ingest new documents (e.g. a
    ``stream_jsonl`` drop-folder), drop everything already in the corpus's
    STATIC digest side-table, and keep only the first occurrence of each
    new digest ACROSS micro-batches — the corpus-append feed, computed
    incrementally instead of by a nightly batch diff.

    Mechanics: the corpus membership test is a stream-static LEFT ANTI
    join on the sha256 digest (the static side is the same digest table
    the batch operator consumes — re-read per micro-batch, so a compaction
    that appends yesterday's accepted digests is picked up without a
    restart); within-stream first-wins is ``dropDuplicates`` on the
    digest, whose state holds one digest per NOVEL document seen — the
    exact side-table the pipeline maintains anyway, so state size equals
    the data structure the batch design already budgets for. For
    event-time sources, swap in ``dropDuplicatesWithinWatermark`` to bound
    state by ingest recency instead.

    Returns the kept stream rows (original columns + ``digest_col``),
    ready for ``foreachBatch`` append into the corpus + digest table.
    """
    base = new_docs.withColumn(digest_col, F.sha2(F.col(text_col), 256))
    # no .distinct() on the static side: LEFT ANTI join results are
    # invariant to right-side duplicates, and the digest side-table is
    # unique by construction anyway — a defensive distinct would re-run a
    # full aggregate over the corpus-sized table EVERY micro-batch.
    seen = seen_digests.select(F.col(digest_col))
    fresh = base.join(seen, [digest_col], "left_anti")
    return fresh.dropDuplicates([digest_col])


def stream_funnel(
    events: DataFrame,
    stages,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    output_mode: str = "update",
) -> DataFrame:
    """Incremental strict-order conversion funnel ([ext] streaming twin of
    ``operators/analytics.funnel_counts``): per-user funnel progress
    maintained in explicit ``applyInPandasWithState`` state across
    micro-batches — the real-time form of the batch fold, emitting each
    user's NEW ``reached`` count whenever their batch slice advances it.
    A live dashboard gets stage counts by aggregating the latest emission
    per user.

    State per key is two longs (reached, last event-time as int64), so
    state size is O(users), independent of event volume. Within a batch
    the user's events are sorted by (ts, type) and folded exactly like the
    batch operator (greedy-earliest; strict ts increase between stages).

    ORDERED-ARRIVAL REQUIREMENT: a one-pass stateful funnel cannot rewind
    — if a micro-batch delivers an event EARLIER than a stage the state
    already consumed, that event is (correctly, for a stream) ignored.
    Cross-batch parity with the batch fold therefore holds when per-user
    arrival respects event time (time-partitioned replay, a log-compacted
    topic, or any source with per-key ordering). tests/test_streaming.py
    replays time-range-split files in order and asserts the final stage
    census equals ``funnel_counts`` on the full log.

    ``output_mode`` is the ``applyInPandasWithState`` operator mode:
    "update" for dashboard sinks (memory/foreachBatch), "append" when the
    query feeds an append-only file sink (``run_to_parquet``) — each
    batch then appends that batch's progress snapshots, and per-key state
    persists across restarts via the checkpoint
    (tests/test_streaming.py::test_stream_funnel_state_survives_restart).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stages = list(stages)
    if len(set(stages)) != len(stages):
        raise ValueError(f"funnel stages must be distinct, got {stages}")

    # the output key column is named after the CALLER's grouping column —
    # hardcoding "user_id" would mislabel the key for any other user_col
    out_schema = StructType(
        [StructField(user_col, LongType()), StructField("reached", LongType())]
    )
    state_schema = StructType(
        [StructField("reached", LongType()), StructField("last_t", LongType())]
    )
    sentinel = -(2**63)

    def update(key, pdfs, state: GroupState):
        reached, last_t = state.get if state.exists else (0, sentinel)
        for pdf in pdfs:
            pdf = pdf[pdf[type_col].isin(stages) & pdf[ts_col].notna()]
            if not len(pdf):
                continue
            evs = sorted(zip(pdf[ts_col].astype("int64"), pdf[type_col]))
            for t, et in evs:
                if (
                    reached < len(stages)
                    and et == stages[reached]
                    and (reached == 0 or t > last_t)
                ):
                    reached, last_t = reached + 1, int(t)
        state.update((reached, last_t))
        yield pd.DataFrame({user_col: [key[0]], "reached": [reached]})

    return events.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )


def stream_span_dedup(
    stream_docs: DataFrame,
    side_table_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming maintenance loop of the SUBSTRING-SPAN dedup family
    ([ext]): continuously ingest new documents (e.g. a ``stream_jsonl``
    drop-folder), strip every >= ``k``-token span already present in the
    accumulated corpus — represented only by its gram-digest side table at
    ``side_table_path`` — or duplicated earlier in the same micro-batch,
    append the span-stripped documents to ``out_path``, and append the
    kept documents' NEW gram digests back to the side table, so each
    micro-batch sees every earlier batch's grams. The streaming twin of
    ``operators.dedup.dedup_substring_spans_incremental`` exactly as
    ``stream_incremental_dedup`` twins ``delta.incremental_dedup`` —
    except span stripping needs a per-batch winner AGGREGATE and an
    in-row rebuild, which no continuous-streaming operator expresses, so
    the batch operator runs inside ``foreachBatch`` (the standard recipe
    for complex batch ops on streams; same pattern as the exactly-once
    JDBC sink).

    Cross-batch semantics: the side table IS the dedup state — identical
    to the data structure the batch pipeline maintains anyway, so a batch
    backfill over the same files agrees with the stream (pinned in
    tests/test_streaming.py). Re-running an uncommitted micro-batch after
    a crash re-appends its output (at-least-once on the doc sink; the
    gram side table converges regardless — the anti join makes gram
    appends idempotent). For exactly-once docs, wrap the doc append with
    the ``sinks.jdbc_exactly_once_batch_writer`` ledger pattern or write
    batch-id-named files.

    Runs to completion with ``availableNow`` and returns after the last
    micro-batch (bounded-backfill semantics; swap the trigger for a
    long-running tail).
    """
    from ..operators.dedup import (
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        try:
            seen = spark_b.read.parquet(side_table_path)
        except Exception:  # first batch: side table not bootstrapped yet
            seen = spark_b.createDataFrame([], "gram_digest string")
        kept = dedup_substring_spans_incremental(
            batch_df, seen, k=k, text_col=text_col, id_col=id_col
        )
        # two consumers (doc append + gram append) — materialize once
        kept.persist()
        try:
            kept.write.mode("append").parquet(out_path)
            substring_gram_digests(
                kept, k=k, text_col=text_col, id_col=id_col
            ).join(
                seen.select("gram_digest"), "gram_digest", "left_anti"
            ).write.mode("append").parquet(side_table_path)
        finally:
            kept.unpersist()

    (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_minhash_dedup(
    stream_docs: DataFrame,
    side_table_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming maintenance loop of the NEAR-dup family ([ext], r11):
    continuously ingest new documents, drop every doc that
    near-duplicates (MinHash-LSH candidates, exact-Jaccard verified at
    ``threshold``) the accumulated corpus — represented only by its
    band-signature side table at ``side_table_path`` — or an
    earlier-id doc in the same micro-batch, append the survivors to
    ``out_path``, and append the survivors' band-signature rows back to
    the side table so each micro-batch sees every earlier batch's
    signatures. The streaming twin of
    ``operators.dedup.minhash_lsh_pairs_incremental`` exactly as
    ``stream_span_dedup`` twins the span operator — pair generation
    needs banded self/probe joins no continuous-streaming operator
    expresses, so the batch operators run inside ``foreachBatch``.

    Keep rule (deterministic, one-pass): a batch doc is DROPPED when it
    verifies against any corpus doc (corpus copy always wins — the
    ``dup_of_existing`` convention) or against any SMALLER-id doc of its
    own batch, even if that smaller doc was itself dropped —
    near-duplication of a dropped doc is still redundancy evidence, and
    the conservative rule is what keeps maintenance one-pass (a
    keep-exactly-one-per-cluster policy composes downstream via
    `connected_components` over the pair stream instead).

    Cross-batch semantics: the side table IS the dedup state — the same
    structure the batch pipeline maintains — so a batch backfill with the
    side table threaded through agrees with the stream (pinned in
    tests/test_streaming.py). Replayed micro-batches re-append docs
    (at-least-once on the doc sink, like the span twin) while the side
    table converges: signature appends anti-join on ``doc_id``. Geometry
    ``(num_hashes, bands)`` is fixed for the side table's lifetime.
    """
    from ..operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        try:
            seen = spark_b.read.parquet(side_table_path)
        except Exception:  # first batch: side table not bootstrapped yet
            seen = None
        kw = dict(
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
        )
        if seen is None:
            pairs = minhash_lsh_pairs(batch_df, **kw)
        else:
            pairs = minhash_lsh_pairs_incremental(batch_df, seen, **kw)
        bids = batch_df.select(F.col(id_col).alias("doc_b"))
        # batch docs on the b side lose (within-batch: to the smaller id;
        # cross: to the corpus partner); pairs whose b side is NOT in the
        # batch are cross pairs normalized the other way — their a side is
        # the batch doc and loses to the corpus copy.
        losers_b = pairs.join(bids, "doc_b", "left_semi").select(
            F.col("doc_b").alias(id_col)
        )
        losers_a = pairs.join(bids, "doc_b", "left_anti").select(
            F.col("doc_a").alias(id_col)
        )
        losers = losers_b.unionByName(losers_a).distinct()
        kept = batch_df.join(losers, id_col, "left_anti")
        kept.persist()  # two consumers: doc append + signature append
        try:
            kept.write.mode("append").parquet(out_path)
            sigs = minhash_band_signatures(kept, **kw)
            if seen is not None:
                sigs = sigs.join(seen.select("doc_id"), "doc_id", "left_anti")
            sigs.write.mode("append").parquet(side_table_path)
        finally:
            kept.unpersist()

    (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_cusum(
    events: DataFrame,
    target: float = 50.0,
    slack: float = 10.0,
    threshold: float = 1000.0,
    grid: float = 1e6,
) -> DataFrame:
    """Streaming Page-CUSUM drift detector ([ext] streaming twin of
    `operators/stats.cusum_per_key`): per-user one-sided upper CUSUM
    maintained in explicit keyed state across micro-batches via
    ``applyInPandasWithState`` — the paging form of the batch census
    ("this stream has drifted high") evaluated continuously instead of
    at audit time.

    State per key: ``(s_q, peak_q, n)`` in exact integer grid units —
    cross-batch accumulation is associative integer math, so a key's
    LAST emission equals the batch operator on the same data whenever
    micro-batches arrive in event-time order (the file-source contract
    the parity test constructs; out-of-order arrival degrades CUSUM the
    same way it degrades any sequential detector — bound it upstream
    with a watermarked sort or accept the approximation).

    Within each batch the per-key rows vectorize through the SAME
    prefix-min closed form the batch operator uses, seeded with the
    carried-in s: ``s_i = Q_i - min(0, running-min Q)`` with
    ``Q = s_carry + cumsum(x_q)`` — numpy int64 cumulative ops, no
    Python row loop. Emits one ``(user_id, n_obs, cusum_final_q,
    cusum_peak_q, alarm)`` row per key per batch (update mode)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    kq = int(target * grid) + int(slack * grid)
    hq = int(threshold * grid)
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_obs", LongType()),
            StructField("cusum_final_q", LongType()),
            StructField("cusum_peak_q", LongType()),
            StructField("alarm", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("s", LongType()),
            StructField("peak", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        s, peak, n = state.get if state.exists else (0, 0, 0)
        chunks = [p for p in pdfs]
        pdf = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(pdf):
            pdf = pdf.dropna(subset=["ts", "value"]).sort_values(
                ["ts", "event_id"]
            )
        if len(pdf):
            xq = np.floor(pdf["value"].to_numpy() * grid).astype(
                np.int64
            ) - kq
            q = s + np.cumsum(xq)
            m = np.minimum(np.minimum.accumulate(q), 0)
            sv = q - m
            s = int(sv[-1])
            peak = max(peak, int(sv.max()))
            n += len(pdf)
        state.update((s, peak, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "cusum_final_q": [s],
                "cusum_peak_q": [peak],
                "alarm": [peak >= hq],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_psi(
    events: DataFrame,
    baseline: dict,
    key_col: str = "event_type",
    val_col: str = "value",
) -> DataFrame:
    """Streaming PSI drift gate ([ext] streaming twin of
    `operators/stats.psi_against_baseline`): per key, the Population
    Stability Index of everything seen SO FAR against a frozen training
    baseline, re-emitted every micro-batch — the continuous form of the
    serve-vs-train drift check (`applyInPandasWithState`, the
    stream_cusum pattern).

    State per key: the current-period integer bin counts (bins FROZEN
    from the baseline's [lo, hi] — serving values outside clamp into the
    edge bins, the production convention). Cross-batch accumulation is
    integer addition — associative and replay-stable — and the emitted
    PSI uses the exact shared integer-grid formula, so a key's LAST
    emission equals the batch twin over the same data regardless of how
    the stream was micro-batched (parity-pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.stats import _psi_from_counts

    n_bins = baseline["n_bins"]
    lo, hi = float(baseline["lo"]), float(baseline["hi"])
    base_keys = baseline["keys"]
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_current", LongType()),
            StructField("psi", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("counts", ArrayType(LongType())), StructField("n", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        k = key[0]
        counts, n = (
            state.get if state.exists else ([0] * n_bins, 0)
        )
        counts = list(counts)
        for pdf in pdfs:
            v = pdf[val_col].to_numpy(dtype=np.float64)
            v = v[~np.isnan(v)]
            if hi > lo:
                bins = np.clip(
                    np.floor((v - lo) * n_bins / (hi - lo)), 0, n_bins - 1
                ).astype(np.int64)
            else:
                bins = np.zeros(len(v), dtype=np.int64)
            for b, c in zip(*np.unique(bins, return_counts=True)):
                counts[int(b)] += int(c)
            n += len(v)
        state.update((counts, n))
        bc = base_keys.get(k)
        psi = _psi_from_counts(bc, counts) if bc is not None else None
        yield pd.DataFrame({"key": [k], "n_current": [n], "psi": [psi]})

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    phi: float = 0.003,
    n_buckets: int = 32,
    capacity: int | None = None,
) -> DataFrame:
    """Streaming phi-heavy-hitter candidate tracker ([ext] streaming twin
    of `operators/vocab.heavy_hitters`): per micro-batch, each of
    ``n_buckets`` token-hash buckets maintains a Misra–Gries summary of
    everything it has seen SO FAR (`applyInPandasWithState`, the
    stream_psi pattern) and re-emits its surviving candidates with
    deterministic count BOUNDS — ``count_min <= true count <=
    count_max`` (count_max = counter + the bucket's accumulated
    decrement). O(n_buckets x capacity) total state however long the
    stream runs.

    Correctness contract (what the parity test pins): a token's full
    count lives in exactly ONE bucket (tokens hash to buckets), so a
    globally phi-heavy token is phi-heavy within its bucket; MG with
    ``capacity`` counters keeps every token whose bucket count exceeds
    n_bucket/(capacity+1) — so after ANY micro-batching, the final
    candidate union is a SUPERSET of the true phi-heavy set whenever
    ``capacity + 1 > n_bucket/(phi*N)`` (the default 2/phi satisfies
    this for any bucket split since n_bucket <= N). An exact recount of
    the final candidates therefore equals the batch operator's output —
    the sketch is approximate, the serving answer exact."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not 0 < phi < 1:
        raise ValueError(f"phi must be in (0, 1): {phi}")
    k = capacity or math.ceil(2.0 / phi)

    out_schema = StructType(
        [
            StructField("bucket", LongType()),
            StructField("token", StringType()),
            StructField("count_min", LongType()),
            StructField("count_max", LongType()),
            StructField("n_bucket", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("toks", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n", LongType()),
            StructField("d", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        b = int(key[0])
        toks, counts, n, d = (
            state.get if state.exists else ([], [], 0, 0)
        )
        sketch = pd.Series(list(counts), index=list(toks), dtype="int64")
        for pdf in pdfs:
            vc = pdf["token"].value_counts()
            n += int(vc.sum())
            sketch = sketch.add(vc, fill_value=0)
            if len(sketch) > k:
                cut = int(sketch.nlargest(k + 1).iloc[-1])
                d += cut
                sketch = sketch[sketch > cut] - cut
        state.update(
            (list(sketch.index), [int(c) for c in sketch.values], n, d)
        )
        yield pd.DataFrame(
            {
                "bucket": b,
                "token": sketch.index.astype(str),
                "count_min": sketch.values.astype("int64"),
                "count_max": (sketch.values + d).astype("int64"),
                "n_bucket": n,
            }
        )

    tok = docs.filter(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    buckets = tok.withColumn(
        "bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)).cast("long")
    )
    return buckets.groupBy("bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
