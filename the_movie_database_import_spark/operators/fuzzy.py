"""Fuzzy string matching via symmetric-delete blocking ([ext] data-cleaning
north star): find all pairs of strings within edit distance 1 — entity
resolution / near-identical-name dedup, the string counterpart of the
MinHash document pipeline (`operators/dedup.py`).

Scale design — LINEAR candidate generation, never all-pairs (the SymSpell
/ Norvig spelling-correction trick): two strings are within one edit iff
their deletion neighborhoods intersect (s itself plus every one-char
deletion of s). Each row explodes into ``len+1`` variants IN-ROW (pure
codegen string slicing), candidates come from ONE equi-join on the
variant hash, and the exact Levenshtein check — integer DP, bit-identical
across engines, so the oracle replays it verbatim — runs only on
candidates. The deletion-neighborhood identity over-generates (e.g. a
transposition's neighborhoods also intersect), which verification
removes; it never UNDER-generates for distance <= 1, so recall is exact —
the same generate-cheap/verify-exact contract the banded MinHash join
makes.

A hot variant bucket (many strings deleting to the same key) would
square inside its bucket; ``max_block`` caps participation exactly like
``max_token_df`` caps hot tokens in the Jaccard index — capped variants
are dropped from blocking, trading recall for a bound. NOTE the recall
cost is not uniform: a name repeated more than ``max_block`` times
shares its ENTIRE deletion neighborhood with its copies, so every one
of its variants is hot and its exact-duplicate pairs are dropped
entirely (pinned: tests/test_analytics.py::test_fuzzy_pairs_hot_block_cap)
— exact duplicates above the cap belong to :func:`..operators.dedup`'s
digest group-by, not to edit-distance blocking. Callers that need the
drop surfaced run :func:`hot_variants` (the same census the cap uses)
and report its rows; the cap is a no-op on natural name data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def deletion_variants(name_sql: str) -> Column:
    """Deletion neighborhood ``array_distinct([s, delete(s,1), …,
    delete(s,len)])`` as a pure-codegen expression over the column named
    ``name_sql`` (repeated characters yield identical deletions — the
    in-row distinct collapses them).

    The per-position lambda re-reads ``{name_sql}`` — per-element
    re-evaluation of an ATTRIBUTE is an O(1) field read, unlike the
    O(len) re-splits the span/shingle operators had to bind away; the
    two substrings themselves make each variant O(len), so the
    neighborhood is O(len^2) characters per NAME — fine for the
    short-string (entity name) contract this operator serves, by design
    not for documents (use the gram-digest dedup family for those)."""
    return F.expr(
        f"array_distinct(concat(array({name_sql}), "
        f"transform(sequence(1, length({name_sql})), "
        f"i -> concat(substring({name_sql}, 1, i - 1), "
        f"substring({name_sql}, i + 1)))))"
    )


def fuzzy_pairs_edit1(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_block: int = 64,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` whose names are within Levenshtein
    distance 1 (including exact duplicates at distance 0). Returns
    ``(id_a, id_b, name_a, name_b, dist)``.

    One explode (+len per row, in-row), one variant-keyed equi-join on
    xxhash64 of the variant (8-byte join keys however long the names),
    a pair-distinct (a pair can collide on several deletion positions),
    and the exact integer Levenshtein verification. ``max_block`` drops
    variants shared by more than that many rows from blocking (hot-key
    guard). Recall under the cap: a name with > ``max_block`` exact
    copies loses ALL its pairs (identical names share every variant, so
    every variant is hot) — use :func:`hot_variants` to surface capped
    buckets, and route mass exact duplicates through the digest dedup
    family first. Natural name data never hits the cap.

    Names never ride the candidate stream: the variant join and the
    pair-distinct carry (id, variant-hash) pairs only — 16-byte shuffle
    rows however long the names — and the two name lookups join back on
    the unique ids for verification (the shuffle-digests-never-text
    principle the dedup/delta operators follow).

    Scale-linearity (r08 profiling of VERDICT r07's "3.88x CPU at 3x
    rows" watch item): the candidate stream is EXACTLY linear — the raw
    variant-join output measured 977,500 pairs at sf0.1 and 2,932,500 at
    3x (3.00x), so there is no join fan-out to fix. The apparent CPU
    superlinearity was an artifact of the r07 synthetic scaler, which
    PREPENDED a 3-char per-copy tag to every name: longer names mean more
    deletion variants per row (len+1) and a ~1.36x bigger O(len_a x
    len_b) Levenshtein DP per candidate in the verify stage (the stage
    the extra CPU concentrated in: verify 3.43x vs candidates 2.8x).
    With the length-preserving generator (first-two-chars replacement,
    `git show 691c719:tools/bench_scaling.py`), output pairs measure
    exactly 3.00x (262,500 -> 787,500) and CPU medians 3.1x over 5
    repeated passes — linear; single-pass CPU readings on the shared host
    swing far wider (3.1x-4.9x across same-hour runs), so only repeated
    medians are evidence.
    Genuine cost drivers at 100 TB: CPU ~ n_rows x avg_len for variant
    generation + n_candidates x avg_len^2 for verification — candidate
    count, not input rows, is the term to watch, and it is bounded by
    ``max_block`` x variants per row.
    """
    from ..session import tracked_cache

    base = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_name")
    )
    # the exploded variant stream feeds THREE consumers (the hot-variant
    # census and both join sides) — cache it so the table is scanned and
    # exploded once (the tracked-cache discipline bm25/pipeline use).
    # Cache budget at 100 TB: the stream is ~(len+1) x 16 bytes per input
    # row; past executor memory prefer StorageLevel.MEMORY_AND_DISK (or
    # drop the cache and recompute — the upstream is scan+explode, cheap
    # to replay, the vocab-style recompute-vs-cache trade)
    sides = tracked_cache(
        base.select("_id", deletion_variants("_name").alias("_vars"))
        .select("_id", F.explode("_vars").alias("_v"))
        .select("_id", F.xxhash64("_v").alias("_vh"))
    )
    counts = sides.groupBy("_vh").agg(F.count(F.lit(1)).alias("_n"))
    # no hint: the hot census is normally a handful of rows, but a
    # pathological corpus (everything hot) would blow a blind broadcast;
    # the planner sizes it instead
    kept = sides.join(counts.filter(F.col("_n") > max_block), "_vh", "left_anti")
    a = kept.select(F.col("_id").alias("id_a"), "_vh")
    b = kept.select(F.col("_id").alias("id_b"), "_vh")
    cands = (
        a.join(b, "_vh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    na = base.select(F.col("_id").alias("id_a"), F.col("_name").alias("name_a"))
    nb = base.select(F.col("_id").alias("id_b"), F.col("_name").alias("name_b"))
    return (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        # THRESHOLDED Levenshtein (r12): the bounded variant runs the
        # banded O(len × threshold) DP with early exit and returns -1
        # past the threshold, instead of filling the full O(len_a ×
        # len_b) matrix and discarding the answer. Verification is the
        # dominant CPU at scale (r12 probe: 64.5% of operator CPU at
        # sf1 — the fuzzy-pairs CPU split row of BASELINE.md), so
        # bounding the DP attacks the top term directly. Emitted rows
        # are IDENTICAL: survivors have dist in {0, 1}, where both
        # variants agree exactly.
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b", 1).cast("long")
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 1))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


def hot_variants(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_block: int = 64,
) -> DataFrame:
    """The variant buckets :func:`fuzzy_pairs_edit1` DROPS at the same
    ``max_block`` — ``(variant_hash, n_rows)``, one row per capped bucket
    — so a pipeline can report the recall trade instead of eating it
    silently (e.g. count() == 0 as a load-gate assertion, or route the
    offending ids through digest dedup). Same census aggregate the cap
    itself uses: one explode + one map-side-combined count, K rows out."""
    variants = (
        df.select(F.col(id_col).alias("_id"), F.col(name_col).alias("_name"))
        .select("_id", F.explode(deletion_variants("_name")).alias("_v"))
        .select(F.xxhash64("_v").alias("variant_hash"))
    )
    return (
        variants.groupBy("variant_hash")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > max_block)
    )


def resolve_entities(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_block: int = 64,
) -> DataFrame:
    """End-to-end ENTITY RESOLUTION composite — the three-family compose
    a master-data pipeline runs on a dirty entity table: (1) candidate
    pairing by :func:`fuzzy_pairs_edit1` (edit-distance <= 1 via
    symmetric-delete blocking — no name self-join), (2) transitive
    closure by ``dedup.connected_components`` min-label propagation
    (a <-> b <-> c merge even when a,c differ by 2 edits — the
    by-design transitivity of record linkage), (3) survivorship: one
    row per resolved entity, ``(entity_id, n_members, canonical_name)``
    with the MINIMUM member id as the stable entity id and its name as
    canonical (the dedup family's first-occurrence convention).
    Singletons resolve to themselves, so the output covers the whole
    input.

    Scale shape = the sum of its proven parts: variant-keyed candidate
    join (hot-block capped), a handful of label-propagation rounds
    (each one shuffle-join over ids only), and a final ids-keyed
    aggregate + one join back to names. Names never ride the iteration
    — only 8-byte ids."""
    from .dedup import connected_components

    pairs = fuzzy_pairs_edit1(
        df, id_col=id_col, name_col=name_col, max_block=max_block
    )
    nodes = df.select(F.col(id_col).alias("node"))
    labels = connected_components(
        nodes, pairs.select("id_a", "id_b"), src_col="id_a", dst_col="id_b"
    )
    members = labels.select(
        F.col("doc_id").alias(id_col), F.col("cluster_rep").alias("entity_id")
    )
    sizes = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    names = df.select(F.col(id_col).alias("entity_id"), F.col(name_col))
    return (
        sizes.join(names, "entity_id")
        .select(
            "entity_id",
            "n_members",
            F.col(name_col).alias("canonical_name"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "id",
    key_col: str = "key",
    window: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995, the OTHER
    classic ER candidate generator next to symmetric-delete): sort all rows
    by ``(key, id)``, slide a ``window``-row frame down the sorted order,
    and emit every pair that co-occurs in some frame — i.e. all pairs whose
    global sorted ranks differ by at most ``window - 1``. Returns
    ``(id_a, id_b, key_a, key_b, rank_a, rank_b)`` with ``rank_a <
    rank_b``; output is EXACTLY n_rows x (window-1) pairs minus the tail,
    linear by construction — the blocking guarantee that makes SNM usable
    where deletion-variant blocking explodes (long keys) or misses
    (typos beyond edit-1 that still sort adjacently).

    Scale design — no global-window single-partition bottleneck: the exact
    global rank is the vocab-growth-curve pattern (repartitionByRange
    assigns partition ids in RANGE ORDER, so per-partition row_number +
    the broadcast cumulative count of lower-id partitions is the global
    rank; the tracked_cache pins the sampled range boundaries so the
    offsets job and the rank pass see one partitioning). Neighbor pairing
    is then ONE equi-join on rank blocks: bucket = rank div window; a
    right-neighbor within window-1 ranks lives in bucket or bucket+1, so
    the left side duplicates into exactly two probe keys (linear, no
    theta-join) and the rank-distance filter trims the block fringe.
    Ranks, not keys, ride the candidate shuffle — 8-byte join keys
    however long the entity names (the shuffle-digests-never-text
    principle).
    """
    from ..session import tracked_cache

    base = df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_key"))
    n_part = max(1, df.sparkSession.sparkContext.defaultParallelism)
    staged = tracked_cache(
        base.repartitionByRange(n_part, "_key", "_id").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pc = staged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pc.select(
        "_pid", F.coalesce(F.sum("_pc").over(off_w), F.lit(0)).alias("_off")
    )
    rank_w = Window.partitionBy("_pid").orderBy("_key", "_id")
    ranked = (
        staged.join(offsets, "_pid")
        .withColumn(
            "_rank",
            (F.row_number().over(rank_w) + F.col("_off")).cast("bigint"),
        )
        .drop("_pid", "_off")
    )
    ranked = tracked_cache(ranked)
    w = int(window)
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.col("_rank").alias("rank_a"),
        F.explode(
            F.array(
                F.floor(F.col("_rank") / w),
                F.floor(F.col("_rank") / w) + 1,
            )
        ).alias("_bucket"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
        F.col("_rank").alias("rank_b"),
        F.floor(F.col("_rank") / w).alias("_bucket"),
    )
    dist = F.col("rank_b") - F.col("rank_a")
    return (
        left.join(right, "_bucket")
        .filter((dist > 0) & (dist <= w - 1))
        .drop("_bucket")
    )
