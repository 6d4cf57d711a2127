"""Corpus snapshot deltas and incremental deduplication ([ext]
training-data pipeline, north star): the operators a DAILY-maintained
100 TB corpus runs between full rebuilds — diff today's crawl against
yesterday's snapshot, and dedup only the NEW documents against the
already-curated corpus instead of re-pairing the world.

Scale design: everything is digest-keyed. Texts hash to sha256 once at
scan time; joins and set membership run on 64-char digests (or ids), so
shuffle rows stay small no matter how long the documents are, and the
incremental path's cost is proportional to the DELTA, not the corpus.

The reference (a load-everything ETL, `loader.py`) rebuilds from scratch
every run; this module is part of the north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _digest(text: Column) -> Column:
    return F.sha2(text, 256)


def corpus_delta(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff: one row per doc id present in either snapshot, with
    ``status`` ∈ {'added', 'removed', 'changed', 'unchanged'} — the change
    feed an incremental pipeline consumes (process added+changed, retire
    removed, skip unchanged).

    One full-outer hash join on the id, comparing content DIGESTS (not
    texts): the shuffle carries (id, digest, presence) triples only, so
    diffing two 100 TB snapshots moves bytes per doc, and 'changed' means
    byte-different content. Presence comes from explicit side markers (not
    digest nullness — a NULL-text doc legitimately exists with a NULL
    digest), and two NULL-text versions of a doc compare 'unchanged'
    (null-safe digest equality).
    """
    o = old.select(
        F.col(id_col),
        _digest(F.col(text_col)).alias("_old_digest"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col),
        _digest(F.col(text_col)).alias("_new_digest"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(
            F.col("_in_old") & F.col("_in_new"),
            F.when(
                F.col("_old_digest").eqNullSafe(F.col("_new_digest")),
                F.lit("unchanged"),
            ).otherwise(F.lit("changed")),
        )
        .when(F.col("_in_new"), F.lit("added"))
        .otherwise(F.lit("removed"))
    )
    return (
        o.join(n, id_col, "full_outer")
        .withColumn("_in_old", F.coalesce("_in_old", F.lit(False)))
        .withColumn("_in_new", F.coalesce("_in_new", F.lit(False)))
        .select(F.col(id_col), status.alias("status"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str = "digest",
) -> DataFrame:
    """Dedup NEW documents against an existing corpus's digest set and
    within themselves, without touching existing-corpus text: returns the
    new docs' columns plus ``dup_of_existing`` (digest already in
    ``seen_digests``) and ``is_kept`` (first new doc of a digest not
    already seen — the rows to append to the corpus).

    The existing corpus contributes only its digest column — the exact
    materialization an incremental pipeline maintains as a side table
    (append ``sha2(text)`` of every kept doc). The join is digest-keyed:
    at 100 TB corpus / 1 TB daily delta, the shuffle is the delta's
    digests against the digest table, never corpus text. Within-batch
    dedup is the same keep-smallest-id convention as ``exact_dedup``.

    The within-batch winner is a map-side-combined MIN AGGREGATE joined
    back on ``(digest, winner id)`` — not ``min over (partition by
    digest)``: a viral page duplicated 10^6 times in one day's crawl
    would funnel every copy into a single window partition, and AQE can
    split skewed JOIN partitions but never window partitions. The
    aggregate absorbs the hot digest map-side before its (tiny) shuffle.
    The join-back keys on the digest (null-safe, so NULL-text docs form
    their own group under the same smallest-id convention) AND the id:
    keying on id alone would be correct only while ids are unique in the
    batch — an id reused for two different texts wins one digest group
    yet would mark BOTH its rows kept. With the composite key a row is
    kept only when its own digest's winner is its own id, so duplicate
    ids can never over-keep across digests (only full ``(id, digest)``
    row duplicates — which a batch should not contain — tie; ids unique
    per batch remains the documented contract).
    """
    seen = seen_digests.select(F.col(digest_col).alias("_seen_digest")).distinct()
    base = new_docs.withColumn("_digest", _digest(F.col(text_col)))
    wins = (
        base.groupBy("_digest")
        .agg(F.min(id_col).alias("_win_id"))
        .select(
            F.col("_digest").alias("_win_digest"),
            "_win_id",
            F.lit(True).alias("_is_win"),
        )
    )
    flagged = base.join(
        seen, base["_digest"] == seen["_seen_digest"], "left"
    ).withColumn("dup_of_existing", F.col("_seen_digest").isNotNull())
    return (
        flagged.join(
            wins,
            F.col("_digest").eqNullSafe(F.col("_win_digest"))
            & (F.col(id_col) == F.col("_win_id")),
            "left",
        )
        .withColumn(
            "is_kept",
            (~F.col("dup_of_existing")) & F.coalesce("_is_win", F.lit(False)),
        )
        .drop("_seen_digest", "_digest", "_win_digest", "_win_id", "_is_win")
    )


def apply_delta(
    snapshot: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """MERGE a change feed into a snapshot: rows whose id appears in
    ``upserts`` are replaced, ids in ``deletes`` are dropped, new upsert
    ids are inserted — the inverse of :func:`corpus_delta`, closing the
    maintenance loop (diff yesterday/today -> apply the feed to the
    warehouse copy). ``upserts`` must carry the snapshot's columns;
    ``deletes`` needs only the id.

    Scale: a daily feed is orders of magnitude smaller than the corpus,
    so the victim-id set (upsert ∪ delete ids, deduped — it is the SMALL
    side) BROADCASTS and the snapshot streams through a broadcast LEFT
    ANTI join with ZERO shuffle of corpus rows — the plan a MERGE INTO on
    a 100 TB table must have. The set carries no hint: the planner
    broadcasts it while its estimated (or, under AQE, observed) size is
    under ``autoBroadcastJoinThreshold``, and a backfill-sized feed plans a
    shuffle anti join instead of assuming feed ≪ corpus forever.
    """
    victims = (
        upserts.select(F.col(id_col))
        .unionByName(deletes.select(F.col(id_col)))
        .distinct()
    )
    return snapshot.join(victims, id_col, "left_anti").unionByName(upserts)


def golden_record(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    fields: list[str],
) -> DataFrame:
    """Survivorship MERGE ([ext] master-data-management classic): collapse
    an entity's sparse attribute sightings into one "golden record" —
    for every field independently, the LATEST NON-NULL observation in
    ``order_cols`` order wins (recency survivorship, the default MDM
    rule). An entity observed as (device=ios, country=NULL) yesterday
    and (device=NULL, country=de) today merges to (ios, de): fields
    survive from DIFFERENT rows, which is why this is not `dedup_by_key`
    (whole-row winner) or `agg_first_nonnull` (single fixed order —
    here each field carries its own observation recency).

    Returns one row per key: ``(key, n_versions, *fields)``; a field
    never observed non-null stays NULL.

    Engine shape: ONE map-side-combinable hash aggregate — each field is
    ``max(struct(order_cols..., field))`` over that field's NON-NULL
    sightings only (the when-guard keeps all-NULL rows out of the max,
    so nulls can never shadow a real observation). No window, no sort,
    no self-join: partials combine within every input partition, the
    shuffle carries one candidate struct per (partition, key, field).
    ``order_cols`` must totally order each key's rows (include a unique
    tiebreak) or "latest" is engine-defined.
    """
    aggs = [F.count(F.lit(1)).alias("n_versions")]
    for f in fields:
        aggs.append(
            F.max(
                F.when(
                    F.col(f).isNotNull(),
                    F.struct(
                        *[F.col(c) for c in order_cols], F.col(f).alias("_v")
                    ),
                )
            )["_v"].alias(f)
        )
    return df.groupBy(key_col).agg(*aggs)
