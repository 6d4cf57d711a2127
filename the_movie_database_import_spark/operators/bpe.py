"""Byte-pair-encoding training over the corpus ([ext] LLM-pipeline north
star: the tokenizer-fitting stage that precedes token counting / packing).

Public algorithm (Sennrich et al. 2016; the GPT-2/RoBERTa tokenizer recipe):
repeatedly find the most frequent ADJACENT symbol pair across the corpus and
merge it into one symbol. The classic implementation is a single-machine
dict loop over word counts; the Spark formulation keeps the corpus out of
the loop entirely:

- ONE corpus pass builds the word census (word, count) — Heaps-bounded,
  orders of magnitude smaller than the corpus, exactly like the vocab side
  table (`operators/vocab.py`).
- every training round runs over the WORD CENSUS only: pair counts come
  from an in-row indexed ``transform`` over each word's current symbol
  array weighted by word count (map-side-combinable aggregation, shuffle
  key = (left, right) — alphabet-bounded), the argmax is a 1-row
  TakeOrdered collect (a legitimate driver scalar, like the PQ codebook
  sample), and the merge applies as a pure-codegen ``F.aggregate`` fold
  (leftmost-first greedy, the reference semantics).
- each round eagerly ``localCheckpoint``s the census so plan depth stays
  O(1) per round instead of nesting ``n_merges`` lambda layers.

At 100 TB the corpus is read once; training cost is
``n_merges x O(word_vocab)``, independent of corpus size.

Determinism: ties in pair count break on (left ASC, right ASC), mirrored in
the python reference model pinned by tests/test_extensions.py — the merge
table is a pure function of the word census.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import tokens


def _chars(word: Column) -> Column:
    """Single-character symbol array (split('') emits boundary empties —
    filtered, as fingerprint() does)."""
    return F.filter(F.split(word, ""), lambda c: c != "")


def word_census(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcount) over whitespace tokens — the Heaps-bounded table every
    BPE round iterates instead of the corpus."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wcount"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair census over the CURRENT symbol arrays, weighted by word
    count. Overlapping pairs all count (`aaa` -> (a,a) twice), matching the
    classic get_stats."""
    pairs = vocab.select(
        "wcount",
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.slice("syms", 1, F.size("syms") - 1),
                    lambda x, i: F.struct(
                        x.alias("left"),
                        F.element_at(F.col("syms"), i + 2).alias("right"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right")).agg(
        F.sum("wcount").cast("bigint").alias("pair_count")
    )


def bpe_pair_census(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Round-0 adjacent character-pair census ``(left, right, pair_count)``
    — fully SQL-expressible (the oracle replays it with substr indexing),
    and the exact statistic the first merge argmaxes over."""
    vocab = word_census(docs, text_col).withColumn("syms", _chars(F.col("word")))
    return _pair_counts(vocab)


def _apply_merge(syms: Column, left: str, right: str, merged: str) -> Column:
    """Leftmost-first greedy merge as a pure-codegen fold: walk the symbol
    array once; when the accumulator's last element is ``left`` and the
    incoming symbol is ``right``, replace the last element with ``merged``
    (so `aaaa` under (a,a) becomes [aa, aa], and the new `aa` symbol is
    immediately eligible as a LEFT operand of later pairs — the reference
    semantics)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Learn up to ``n_merges`` BPE merges; returns the merge table
    ``(merge_rank, left, right, merged, pair_count)`` — tiny (one row per
    merge). When the word census fits the driver budget
    (``session.DRIVER_BUDGET_ROWS``) it is collected once and trained with
    the classic local loop (r13 fast path); otherwise the merge table is
    assembled on the driver from one 1-row argmax collect per round while
    ALL counting/merging stays distributed over the word census. Both
    paths produce the identical merge table (pinned against the same
    python reference model). Stops early when no pair reaches
    ``min_count``.

    Job shape: the per-round checkpoint is LAZY (``eager=False``) so the
    NEXT round's argmax job materializes it — one job per round instead of
    two. Checkpoint blocks are freed explicitly as rounds retire (each
    tracked by its EXACT LogicalRDD id, session.local_checkpoint_rdd_id)
    and ALL of them at return — the merge table is driver data, so nothing
    downstream reads the vocab chain. Without this, a shared session
    accumulates n_merges vocab snapshots per call in the executor block
    store (the r13 ext-bench interference finding)."""
    from pyspark.sql import Observation

    from ..session import (
        DRIVER_BUDGET_ROWS,
        local_checkpoint_rdd_id,
        unpersist_rdd_ids,
    )

    spark = docs.sparkSession
    sc = spark.sparkContext
    # Size-derived loop partitioning (r13 opt, guide §2.6): localCheckpoint
    # pins the PRE-AQE partitioning, so a Heaps-bounded census (31 rows on
    # the bench corpus) would otherwise drag shuffle-partition-many
    # near-empty tasks through every round's census/argmax/merge stages —
    # per-round latency, not work, dominated training. The row count rides
    # the eager checkpoint's own job via Observation (no extra action).
    obs = Observation()
    vocab = (
        word_census(docs, text_col)
        .withColumn("syms", _chars(F.col("word")))
        .select("wcount", "syms")
        .observe(obs, F.count(F.lit(1)).alias("n_words"))
        .localCheckpoint()
    )
    prev_id = local_checkpoint_rdd_id(vocab)
    n_words = int(obs.get["n_words"] or 0)
    schema = (
        "merge_rank bigint, left string, right string, merged string, "
        "pair_count bigint"
    )
    if n_words <= DRIVER_BUDGET_ROWS:
        # Driver fast path (r13 opt, guide §1/§5 trade): the distributed
        # loop pays one full job ROUND-TRIP per merge (~0.1-0.25 s each on
        # this harness, measured against a 98 ms trivial-collect floor) to
        # scan a census that fits in one task. Under the budget, collect
        # the census once and run the classic Sennrich get_stats/merge
        # loop locally — the SAME loop the test suite's python reference
        # model pins the distributed trainer against, so the merge table
        # is identical by construction (exact integer counts, count DESC /
        # left ASC / right ASC tie order). Over budget, the distributed
        # round loop below keeps training scan-shaped.
        try:
            data = [
                (list(r["syms"]), int(r["wcount"])) for r in vocab.collect()
            ]
        finally:
            if prev_id is not None:
                unpersist_rdd_ids(sc, {prev_id})
        return spark.createDataFrame(
            spark.sparkContext.parallelize(
                _train_bpe_local(data, int(n_merges), int(min_count)), 1
            ),
            schema,
        )
    vocab = vocab.coalesce(
        max(1, min(sc.defaultParallelism, n_words // 65536 + 1))
    )
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(1, int(n_merges) + 1):
            best = (
                _pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            # the argmax job just materialized this round's lazy
            # checkpoint; the previous round's snapshot is now unreachable.
            # cur_id is None in round 1 (vocab is the COALESCE VIEW of the
            # initial checkpoint, not a LogicalRDD) — the initial snapshot
            # is still live then, so only retire when a real new id shows.
            cur_id = local_checkpoint_rdd_id(vocab)
            if cur_id is not None:
                if prev_id is not None and prev_id != cur_id:
                    unpersist_rdd_ids(sc, {prev_id})
                prev_id = cur_id
            if not best or best[0].pair_count < min_count:
                break
            left, right = best[0].left, best[0].right
            cnt = int(best[0].pair_count)
            merged = left + right
            merges.append((rank, left, right, merged, cnt))
            vocab = vocab.select(
                "wcount",
                _apply_merge(F.col("syms"), left, right, merged).alias("syms"),
            ).localCheckpoint(eager=False)
    finally:
        for rid in {prev_id, local_checkpoint_rdd_id(vocab)}:
            if rid is not None:
                unpersist_rdd_ids(sc, {rid})
    # One explicit slice (r13 opt, guide §4): createDataFrame on driver
    # rows parallelizes into defaultParallelism pickled partitions, each
    # deserialized by its OWN Python worker — 32 worker spin-ups (~0.3 s
    # apiece of pure startup, no CPU) to carry a dozen merge rows. The
    # merge table is n_merges rows by construction; one slice, one worker.
    return spark.createDataFrame(spark.sparkContext.parallelize(merges, 1), schema)


def _train_bpe_local(
    data: list[tuple[list[str], int]], n_merges: int, min_count: int
) -> list[tuple[int, str, str, str, int]]:
    """The classic single-machine BPE loop (Sennrich et al. get_stats /
    merge), bit-identical in outcome to the distributed round loop: exact
    integer pair counts (sum of word counts over adjacent slots, overlaps
    all counting), argmax tie order (count DESC, left ASC, right ASC), and
    the leftmost-first greedy merge in which the merged symbol is
    immediately eligible as a LEFT operand (``aaaa`` -> [aa, aa])."""
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        stats: dict[tuple[str, str], int] = {}
        for syms, c in data:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                stats[k] = stats.get(k, 0) + c
        if not stats:
            break
        (left, right), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        for j, (syms, c) in enumerate(data):
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            data[j] = (out, c)
    return merges


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Apply learned BPE merges — the tokenizer SERVE path that prices every
    training batch: returns ``(doc_id, n_ws_tokens, n_bpe_tokens)`` per
    document, where ``n_bpe_tokens`` counts the symbols left after replaying
    ``merges`` (as ``(left, right, merged)`` triples, in rank order) over
    each word.

    Scale design: each DISTINCT word is encoded exactly once — the merge
    folds run over the Heaps-bounded word census, never over corpus
    occurrences (encode cost is O(word_vocab x n_merges), corpus-size-
    independent), and the per-word token counts join back onto the exploded
    corpus through the budget-guarded broadcast. The merge chain
    checkpoints every ``checkpoint_every`` rounds so expression depth stays
    bounded instead of nesting n_merges fold lambdas into one tree."""
    from ..session import (
        local_checkpoint_rdd_id,
        maybe_broadcast,
        tracked_cache,
        unpersist_rdd_ids,
    )

    from pyspark.sql import Observation

    sc = docs.sparkSession.sparkContext
    # Same size-derived chain partitioning as train_bpe (r13 opt): the
    # census is Heaps-bounded, so running the merge folds and periodic
    # checkpoints over shuffle-partition-many near-empty tasks costs
    # per-stage latency for nothing. One eager checkpoint materializes the
    # census, its row count rides that job via Observation, and the whole
    # chain inherits the coalesced layout.
    obs = Observation()
    vocab = (
        word_census(docs, text_col)
        .select("word", _chars(F.col("word")).alias("syms"))
        .observe(obs, F.count(F.lit(1)).alias("n_words"))
        .localCheckpoint()
    )
    prev_id: int | None = local_checkpoint_rdd_id(vocab)
    n_words = int(obs.get["n_words"] or 0)
    vocab = vocab.coalesce(
        max(1, min(sc.defaultParallelism, n_words // 65536 + 1))
    )
    for i, (left, right, merged) in enumerate(merges):
        vocab = vocab.select(
            "word", _apply_merge(F.col("syms"), left, right, merged).alias("syms")
        )
        if (i + 1) % int(checkpoint_every) == 0 and i + 1 < len(merges):
            vocab = vocab.localCheckpoint()
            # retire the previous chain checkpoint (exact-id tracked) —
            # only the newest one feeds the rest of the plan
            if prev_id is not None:
                unpersist_rdd_ids(sc, {prev_id})
            prev_id = local_checkpoint_rdd_id(vocab)
    word_counts = vocab.select(
        "word", F.size("syms").cast("bigint").alias("_wtoks")
    )
    # Materialize the per-word counts into the tracked SQL cache (released
    # by the registry/bench discipline at the next query) and THEN free the
    # last chain checkpoint — it is dead weight once the cache holds the
    # counts. The cache must stay retained on BOTH broadcast paths: the
    # freed checkpoint cannot back a lineage recompute (localCheckpoint
    # truncates lineage).
    word_counts = tracked_cache(word_counts)
    n_vocab = word_counts.count()
    if prev_id is not None:
        unpersist_rdd_ids(sc, {prev_id})
    word_counts = maybe_broadcast(word_counts, n_rows=n_vocab)
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    return (
        exploded.join(word_counts, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum("_wtoks").cast("bigint").alias("n_bpe_tokens"),
        )
    )
