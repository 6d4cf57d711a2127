"""Property/recall tests for the extension operators whose candidate
generation is hash-specific and therefore has no SQL oracle (SURVEY.md §5:
rows-only ops get their own correctness pins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from the_movie_database_import_spark.operators.dedup import (
    jaccard_pairs_exact,
    minhash_lsh_pairs,
)
from the_movie_database_import_spark.operators.multimodal import (
    RESIZE_BUCKETS,
    assets_from_documents,
    decode_image,
    extract_features,
    resize_signal,
    sample_frames,
)
from the_movie_database_import_spark.operators.simhash import (
    _simhash_one,
    simhash_neardup_pairs,
)
from the_movie_database_import_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
)
from the_movie_database_import_spark.sources.readers import load_table


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_minhash_null_text_docs_never_pair(spark):
    """NULL-text docs must not emit pairs: the identical-set collapse would
    otherwise merge every NULL-text doc into one setkey (xxhash64 of a NULL
    array is the seed constant, not NULL) and emit all of them pairwise at
    jaccard 1.0 — while brute-force exact Jaccard (the semantics oracle)
    drops them (NULL intersect → NULL jaccard). Empty-STRING docs tokenize
    to the set {""} and legitimately pair — brute force agrees."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, ""),
            (4, ""),
            (5, "real duplicate text body"),
            (6, "real duplicate text body"),
        ],
        schema,
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.8)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == {(3, 4), (5, 6)}


def test_minhash_lsh_recall_and_precision(spark):
    """LSH output must be a subset of exact-Jaccard pairs (precision 1.0 by
    construction — exact verify) with recall >= 0.9 at threshold 0.8."""
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs_exact(docs, block_col="source", threshold=0.8)
        .select("doc_a", "doc_b")
        .collect()
    }
    # LSH is blocking-free: it may also find cross-source pairs, so compare
    # against the unblocked exact set (single constant block).
    exact_all = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs_exact(
            docs.withColumn("blk", F.lit(1)), block_col="blk", threshold=0.8
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b").collect()
    }
    assert got <= exact_all, "LSH must never emit a below-threshold pair"
    assert exact  # the fixture does contain near-dup pairs
    recall = len(got & exact_all) / len(exact_all)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9"


def test_minhash_incremental_composition_identity(spark):
    """Incremental MinHash near-dup (VERDICT r10 #2): probing a NEW batch
    against the corpus's band-signature side table (+ within-batch pairs)
    must equal the full-batch `minhash_lsh_pairs` over old+new RESTRICTED
    to pairs touching a new doc — same pairs, bit-identical jaccard
    doubles (signatures are deterministic; verification is the same exact
    expression). The corpus side contributes only its side table."""
    from the_movie_database_import_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs_incremental,
    )

    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    side = minhash_band_signatures(old, threshold=0.8)
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_incremental(
            new, side, threshold=0.8
        ).collect()
    )
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    )
    assert want, "fixture must contain near-dup pairs touching the batch"
    assert got == want
    # both pair kinds must be exercised: cross (old x new) and within-batch
    cross = [p for p in want if (p[0] in new_ids) != (p[1] in new_ids)]
    within = [p for p in want if p[0] in new_ids and p[1] in new_ids]
    assert cross, "fixture split must produce old x new pairs"
    assert within, "fixture split must produce within-batch pairs"


def test_minhash_incremental_geometry_contract(spark):
    """Mismatched geometry args raise, like the batch operator. A threshold
    outside (0, 1] raises on every entry point even when explicit geometry
    skips the chooser — else the identical-set pairs would be emitted at
    jaccard 1.0 below the threshold."""
    from the_movie_database_import_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_lsh_pairs_incremental,
    )

    docs = _docs(spark)
    with pytest.raises(ValueError, match="both num_hashes and bands"):
        minhash_band_signatures(docs, num_hashes=24)
    with pytest.raises(ValueError, match="divide"):
        minhash_band_signatures(docs, num_hashes=24, bands=7)
    side = minhash_band_signatures(docs, threshold=0.8)
    with pytest.raises(ValueError, match="both num_hashes and bands"):
        minhash_lsh_pairs_incremental(docs, side, bands=6)
    geometry = dict(num_hashes=24, bands=6)
    for bad in (1.5, 0.0, -0.2):
        with pytest.raises(ValueError, match="threshold"):
            minhash_lsh_pairs(docs, threshold=bad, **geometry)
        with pytest.raises(ValueError, match="threshold"):
            minhash_band_signatures(docs, threshold=bad, **geometry)
        with pytest.raises(ValueError, match="threshold"):
            minhash_lsh_pairs_incremental(docs, side, threshold=bad, **geometry)
    # the closed upper end is valid with explicit geometry: only exact
    # token-set matches remain
    exact = minhash_lsh_pairs(docs, threshold=1.0, **geometry)
    assert exact.filter(F.col("jaccard") != 1.0).count() == 0


def test_jaccard_hot_token_cap_is_lower_bound(spark):
    """The skew guard (max_token_df) only UNDERCOUNTS intersections: every
    capped pair must exist in the uncapped output with jaccard >= the capped
    score, and the cap must never invent pairs."""
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(docs, threshold=0.5).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(docs, threshold=0.5, max_token_df=10).collect()
    }
    assert set(capped) <= set(exact), "cap created pairs that don't exist exactly"
    for pair, score in capped.items():
        assert exact[pair] >= score - 1e-12
    # the cap actually pruned something on this corpus (guards test strength)
    assert len(capped) <= len(exact)


def test_simhash_deterministic_and_near():
    a = "the fast key order sort table scan merge"
    b = "the fast key order sort table scan merge extra"
    c = "completely different words entirely unrelated content here now"
    assert _simhash_one(a) == _simhash_one(a)
    ham_ab = bin((_simhash_one(a) ^ _simhash_one(b)) & (2**64 - 1)).count("1")
    ham_ac = bin((_simhash_one(a) ^ _simhash_one(c)) & (2**64 - 1)).count("1")
    assert ham_ab < ham_ac, "near-identical docs must be closer than unrelated ones"


def test_simhash_pairs_runs(spark):
    out = simhash_neardup_pairs(_docs(spark), max_hamming=10).collect()
    # all emitted pairs satisfy the hamming bound
    assert all(r.hamming <= 10 for r in out)
    # first-collision-band emission: each candidate pair exactly once —
    # no duplicates, so no distinct() shuffle is needed (plan pin below)
    pairs = [(r.doc_a, r.doc_b) for r in out]
    assert len(pairs) == len(set(pairs))


def test_simhash_plan_has_no_distinct_aggregate(spark):
    """The banded self-join must emit each pair once (first-collision-band),
    not pairs x bands followed by a distinct(): the executed plan must
    contain no HashAggregate (the physical form of distinct) and therefore
    no post-join Exchange for it."""
    plan = (
        simhash_neardup_pairs(_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" not in plan


def test_lsh_topk_subset_of_bruteforce_space(spark):
    """Bucketed ANN results must be genuine corpus vectors with correct
    cosines: every (query, vec, cosine) must appear in the brute-force
    scoring at the same cosine."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = cosine_topk(emb, queries, k=10**6)  # all scored pairs
    brute_map = {(r.query_id, r.vec_id): r.cosine for r in brute.collect()}
    for r in lsh_bucket_topk(emb, queries, k=10).collect():
        assert brute_map[(r.query_id, r.vec_id)] == pytest.approx(r.cosine, abs=1e-9)


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with 16 centroids / 4 probes must recover most of the exact
    top-10 (recall@10), and every emitted cosine must match brute force."""
    from the_movie_database_import_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = cosine_topk(emb, queries, k=10)
    exact = {}
    for r in brute.collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    brute_all = cosine_topk(emb, queries, k=10**6)
    brute_map = {(r.query_id, r.vec_id): r.cosine for r in brute_all.collect()}
    got = {}
    for r in ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
        assert brute_map[(r.query_id, r.vec_id)] == pytest.approx(r.cosine, abs=1e-9)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.5, f"IVF recall@10 {recall:.3f} < 0.5"


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_multimodal_features_shape(spark):
    docs = _docs(spark)
    feats = extract_features(assets_from_documents(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()
    r0 = next(r for r in rows if r.n_bytes > 0)
    assert len(r0.byte_histogram) == 16
    assert sum(r0.byte_histogram) == r0.n_bytes
    assert 0 <= r0.mean_byte <= 255


def test_ngram_jaccard_is_order_sensitive(spark):
    """Shingle Jaccard must separate what unigram Jaccard cannot: a word-
    scrambled copy has unigram jaccard 1.0 but (near-)zero bigram jaccard,
    while a true verbatim copy scores 1.0 on both."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.functions.text import word_shingles

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, "s", "alpha beta gamma delta epsilon zeta"),
            (2, "s", "zeta epsilon delta gamma beta alpha"),  # scrambled
            (3, "s", "alpha beta gamma delta epsilon zeta"),  # verbatim
            (4, "s", "tiny"),  # shorter than the shingle width: no shingles
        ],
        schema,
    )
    uni = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(docs, threshold=0.9).collect()
    }
    bi = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(
            docs, threshold=0.9, tokens_fn=lambda c: word_shingles(c, 2)
        ).collect()
    }
    assert set(uni) == {(1, 2), (1, 3), (2, 3)}  # unigram can't tell order
    assert set(bi) == {(1, 3)}  # bigram keeps only the verbatim copy
    assert bi[(1, 3)] == 1.0


def test_multimodal_frame_sample_matches_python_model(spark):
    """Every sampled frame (idx, length, digest) must match a pure-Python
    byte-slicing model of the same payloads — the Arrow row-expansion
    (one asset → many frame rows) is the property under test."""
    import hashlib

    docs = _docs(spark).limit(50)
    assets = assets_from_documents(docs)
    got = {
        (r.asset_id, r.frame_idx): (r.frame_len, r.frame_sha256)
        for r in sample_frames(assets, frame_bytes=64, every=4).collect()
    }
    want = {}
    for r in assets.collect():
        b = bytes(r.payload)
        n = (len(b) + 63) // 64
        for i in range(0, n, 4):
            fr = b[i * 64 : (i + 1) * 64]
            want[(r.asset_id, i)] = (len(fr), hashlib.sha256(fr).hexdigest())
    assert got == want


def test_multimodal_resize_matches_python_model(spark):
    """Bucket (sum, len) pairs must match numpy-free Python area pooling:
    exact integer arithmetic, bucket lens summing to the payload size."""
    docs = _docs(spark).limit(50)
    assets = assets_from_documents(docs)
    got = {
        r.asset_id: (r.orig_bytes, list(r.bucket_sums), list(r.bucket_lens))
        for r in resize_signal(assets).collect()
    }
    for r in assets.collect():
        b = bytes(r.payload)
        bounds = [i * len(b) // RESIZE_BUCKETS for i in range(RESIZE_BUCKETS + 1)]
        sums = [sum(b[bounds[i] : bounds[i + 1]]) for i in range(RESIZE_BUCKETS)]
        lens = [bounds[i + 1] - bounds[i] for i in range(RESIZE_BUCKETS)]
        ob, gs, gl = got[r.asset_id]
        assert ob == len(b) and gs == sums and gl == lens
        assert sum(gl) == ob, "bucket lens must partition the payload"


def test_binned_range_join_equals_bruteforce(spark):
    """The binned rewrite must equal the naive cross-join range filter
    exactly — including points sitting on bin and interval boundaries
    (end-exclusive upper, inclusive lower)."""
    from the_movie_database_import_spark.operators.rangejoin import (
        interval_point_join_binned,
    )

    # timestamps engineered to land on/next to 600s bin edges and on the
    # exact ±300s interval edges of other rows
    base = 1_700_000_000
    offsets = [0, 1, 299, 300, 301, 599, 600, 601, 900, 1199, 1200, 1800, 2400]
    rows = [(i, base + o) for i, o in enumerate(offsets)]
    df = spark.createDataFrame(rows, "id long, sec long").withColumn(
        "ts", F.timestamp_seconds(F.col("sec")).cast("timestamp_ntz")
    )
    left = df.select(F.col("id").alias("lid"), F.col("ts").alias("lts"))
    right = df.select(F.col("id").alias("rid"), F.col("ts").alias("rts"))

    binned = interval_point_join_binned(
        left, right, left_ts="lts", right_ts="rts", lower_s=-300, upper_s=300
    ).select("lid", "rid")
    brute = (
        left.crossJoin(right)
        .filter(
            (F.col("rts") >= F.col("lts") - F.expr("INTERVAL 300 SECOND"))
            & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 300 SECOND"))
        )
        .select("lid", "rid")
    )
    got = sorted((r.lid, r.rid) for r in binned.collect())
    want = sorted((r.lid, r.rid) for r in brute.collect())
    assert got == want
    assert len(got) == len(set(got)), "binned join emitted duplicate pairs"


def test_cosine_neardup_lsh_recall_and_exact_precision(spark):
    """The banded-LSH near-dup scale path must be a SUBSET of the exact
    all-pairs twin (verification is exact cosine, so precision is 1.0 by
    construction) with recall >= 0.8 at the query's own parameters. The
    hyperplanes are deterministic, so this is an exact pin, not a flaky
    statistical bound."""
    from the_movie_database_import_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_lsh,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs(emb, 0.4, "label").collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs_lsh(
            emb, 0.4, "label", planes=12, bands=6
        ).collect()
    }
    assert lsh <= exact, "LSH emitted a pair the exact twin rejects"
    assert exact, "fixture must contain near-dup pairs at threshold 0.4"
    assert len(lsh) / len(exact) >= 0.8, (len(lsh), len(exact))


def test_simhash_batch_matches_scalar_model():
    """The vectorized batch SimHash must be bit-exact with the scalar
    reference model across edge cases (empty string, repeated tokens,
    unicode, single token)."""
    import pandas as pd

    from the_movie_database_import_spark.operators.simhash import (
        _simhash_batch,
        _simhash_one,
    )

    texts = [
        "",
        " ",
        "one",
        "the quick brown fox jumps over the lazy dog",
        "the the the the",
        "naïve café über ß",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "x" * 1000,
        "tok " * 200,
    ]
    got = list(_simhash_batch(pd.Series(texts)))
    want = [_simhash_one(t) for t in texts]
    assert got == want


def test_curation_near_dup_skew_cap_bounds_fanout(spark):
    """VERDICT r02 #6: the composed curation pipeline must be skew-safe by
    default. A stop-word-heavy block (one token in ALL docs) makes the
    uncapped inverted-index join emit every pair (quadratic fan-out); with
    max_token_df the fan-out collapses to the genuinely-similar pairs, and
    capped scores are a LOWER BOUND of the exact ones (never false
    positives)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.operators.curation import curate_corpus

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ])
    rows = [
        (1, "the alpha beta gamma delta", "s1"),
        (2, "the alpha beta gamma epsilon", "s1"),
    ] + [(i, f"the u{i}a u{i}b u{i}c u{i}d", "s1") for i in range(3, 31)]
    docs = spark.createDataFrame(rows, schema)

    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(docs, threshold=0.05).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_exact(docs, threshold=0.05, max_token_df=5).collect()
    }
    # the ubiquitous token links EVERY pair without the cap...
    assert len(uncapped) == 30 * 29 // 2
    # ...and the cap prunes the fan-out to the one genuinely-similar pair
    assert set(capped) == {(1, 2)}
    # lower-bound semantics: capped pairs are a subset with <= scores
    for k, v in capped.items():
        assert k in uncapped and v <= uncapped[k] + 1e-12
    assert capped[(1, 2)] == pytest.approx(3 / 7)  # 'the' dropped from inter
    assert uncapped[(1, 2)] == pytest.approx(4 / 6)

    # composed pipeline: near-dup stage applies the cap by default and
    # flags the higher-id doc of the pair, keeping the survivor unflagged
    out = curate_corpus(
        docs, quality_threshold=0.0, langs=("en",),
        near_dup_threshold=0.05, max_token_df=5,
    )
    flags = {r.doc_id: r.is_near_dup for r in out.collect()}
    assert flags[2] is True and flags[1] is False
    assert sum(flags.values()) == 1


def test_choose_lsh_params_math():
    """The chooser must satisfy its own contract: bands divide planes, the
    plane budget is respected, and the analytic recall at the threshold
    meets the target (VERDICT r03 #5)."""
    import math

    from the_movie_database_import_spark.operators.similarity import (
        choose_lsh_params,
    )

    for threshold, target in [(0.9, 0.9), (0.7, 0.9), (0.4, 0.9), (0.9, 0.99)]:
        planes, bands = choose_lsh_params(threshold, target)
        assert planes % bands == 0 and planes <= 32, (threshold, planes, bands)
        p = 1.0 - math.acos(threshold) / math.pi
        recall = 1.0 - (1.0 - p ** (planes // bands)) ** bands
        assert recall >= target, (threshold, planes, bands, recall)
    with pytest.raises(ValueError):
        choose_lsh_params(0.01, 0.999, max_planes=2)


def test_cosine_neardup_lsh_recall_with_chosen_params(spark):
    """End-to-end recall pin at TWO thresholds with chooser-derived
    (planes, bands) — no hand-picked parameters (VERDICT r03 #5 'done'
    criterion).

    The chooser's guarantee is PER-PAIR probabilistic (each qualifying pair
    is emitted with prob >= target over the hash family), so pinning an
    observed-recall bound needs enough qualifying pairs for the binomial to
    concentrate — the sf0.001 embeddings table has only ~5 pairs at
    threshold 0.4, where two unlucky pairs already break 0.9. This fixture
    plants 150 pairs per threshold at controlled cosines just above the
    threshold (the chooser's WORST case — real near-dups sit higher and
    collide more often), plus noise vectors. Deterministic hyperplanes +
    seeded fixture make the observed recall an exact, repeatable pin."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    )

    from the_movie_database_import_spark.operators.similarity import (
        choose_lsh_params,
        cosine_neardup_pairs,
        cosine_neardup_pairs_lsh,
    )

    rng = np.random.default_rng(42)
    dim, n_pairs = 64, 150
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("label", StringType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    for threshold in (0.9, 0.4):
        rows = []
        for i in range(n_pairs):
            v = rng.normal(size=dim)
            v /= np.linalg.norm(v)
            u = rng.normal(size=dim)
            u -= (u @ v) * v
            u /= np.linalg.norm(u)
            # cosine in [threshold+0.01, threshold+0.05]: near the boundary,
            # where per-pair collision probability is at its minimum
            c = threshold + 0.01 + 0.04 * rng.random()
            w = c * v + np.sqrt(1.0 - c * c) * u
            rows.append((2 * i, "blk", [float(x) for x in v]))
            rows.append((2 * i + 1, "blk", [float(x) for x in w]))
        for j in range(200):  # unrelated noise in the same block
            z = rng.normal(size=dim)
            rows.append((10_000 + j, "blk", [float(x) for x in z]))
        emb = spark.createDataFrame(rows, schema)

        planes, bands = choose_lsh_params(threshold, target_recall=0.95)
        exact = {
            (r.vec_a, r.vec_b)
            for r in cosine_neardup_pairs(emb, threshold, "label").collect()
        }
        lsh = {
            (r.vec_a, r.vec_b)
            for r in cosine_neardup_pairs_lsh(
                emb, threshold, "label", planes=planes, bands=bands
            ).collect()
        }
        assert lsh <= exact, "LSH emitted a pair the exact twin rejects"
        assert len(exact) >= n_pairs, (threshold, len(exact))
        assert len(lsh) / len(exact) >= 0.9, (threshold, len(lsh), len(exact))


def test_hyperplanes_are_decorrelated():
    """The recall formula behind choose_lsh_params assumes independent
    hyperplanes. The original 32-bit one-xorshift mixer produced planes with
    mean |correlation| 0.48 (some IDENTICAL), silently collapsing banded
    recall. Pin the splitmix64 mixer's avalanche: mean |corr| near the
    1/sqrt(dim) independence level, and no near-duplicate planes."""
    import numpy as np

    from the_movie_database_import_spark.operators.similarity import _hyperplane

    H = np.array([_hyperplane(64, p) for p in range(32)])
    C = H @ H.T / 64
    off = np.abs(C[~np.eye(32, dtype=bool)])
    assert off.mean() < 0.15, off.mean()  # independent +-1: ~0.1 at dim 64
    assert off.max() < 0.6, off.max()     # no pair of planes nearly equal


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Banded multi-table ANN must actually FIND neighbors: recall@10 vs
    brute force pinned at the defaults (deterministic hyperplanes + fixed
    corpus → exact pin). The old single-bucket form (full-signature match)
    measured 0.01 here — the subset test alone never caught it."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {}
    for r in cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    rows = lsh_bucket_topk(emb, queries, k=10).collect()
    pairs = [(r.query_id, r.vec_id) for r in rows]
    assert len(pairs) == len(set(pairs)), "candidate emitted more than once"
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.3, f"recall@10 {hits / total:.3f} < 0.3"


def test_choose_minhash_params_math():
    """MinHash chooser contract (VERDICT r04 #3): bands divide hashes, the
    signature budget is respected, and the analytic recall 1-(1-j^r)^b at
    the threshold meets the target. The per-component collision probability
    for MinHash is the Jaccard threshold itself."""
    from the_movie_database_import_spark.operators.dedup import choose_minhash_params

    for threshold, target in [(0.8, 0.9), (0.6, 0.9), (0.4, 0.9), (0.8, 0.99)]:
        num_hashes, bands = choose_minhash_params(threshold, target)
        assert num_hashes % bands == 0 and num_hashes <= 32, (threshold, num_hashes, bands)
        r = num_hashes // bands
        recall = 1.0 - (1.0 - threshold**r) ** bands
        assert recall >= target, (threshold, num_hashes, bands, recall)
    with pytest.raises(ValueError):
        choose_minhash_params(0.05, 0.999, max_hashes=2)
    with pytest.raises(ValueError):
        choose_minhash_params(1.5)


def test_minhash_lsh_recall_with_chosen_params_second_threshold(spark):
    """End-to-end recall pin at a SECOND threshold (0.6) with chooser-derived
    (num_hashes, bands) — the fixed 32/8 geometry this replaces was tuned for
    0.8 and models only 0.67 recall at 0.6; the chooser must restore >= 0.9.
    Precision stays exact (LSH output subset of brute-force pairs)."""
    docs = _docs(spark)
    exact_all = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs_exact(
            docs.withColumn("blk", F.lit(1)), block_col="blk", threshold=0.6
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b").collect()
    }
    assert got <= exact_all, "LSH must never emit a below-threshold pair"
    assert exact_all, "fixture must contain pairs at jaccard >= 0.6"
    recall = len(got & exact_all) / len(exact_all)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9 at threshold 0.6"


def test_connected_components_single_action_per_iteration(spark, monkeypatch):
    """VERDICT r04 #4: convergence must be read from the Observation metric
    folded into the round's localCheckpoint action — no separate per-round
    count() job. Spy on DataFrame.count to prove the loop never calls it,
    and pin the fixpoint labels on a 2-cluster path graph (diameter 3, so
    the loop genuinely iterates multiple rounds)."""
    # Patch the CONCRETE class: pyspark.sql.DataFrame is the abstract base
    # in Spark 4 and classic.dataframe.DataFrame overrides count, so a spy
    # on the base never fires (r12 fix — the assertion was vacuous before).
    from pyspark.sql.classic.dataframe import DataFrame
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.dedup import connected_components

    # force the distributed loop: this test pins ITS job shape (the r13
    # driver union-find fast path would short-circuit a 7-node graph)
    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)

    calls: list[int] = []
    orig = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda self: calls.append(1) or orig(self))

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 7)], "doc_a long, doc_b long"
    )
    # With AQE off, one action = one job, so the count is exact: 1 edge
    # materialization (r11 — pay-once, so iterations stop re-executing the
    # caller's edge-GENERATION plan, the dominant cost when edges come from
    # a banded-MinHash or inverted-index join) + 1 initial label checkpoint
    # + 4 propagation rounds (path 1-2-3-4 converges on round 4) = 6. The
    # old shapes paid 2 actions per round (checkpoint + count) = 9, then 5
    # with per-round edge re-execution hidden INSIDE each round's job. AQE
    # merely splits each action into shuffle-stage jobs; the action count
    # is the 100 TB-relevant quantity.
    # Disable the r13 broadcast guard for the JOB-COUNT pin: each broadcast
    # the loop plans materializes as its own (cheap, label-table-sized)
    # build job, which would make the count depend on the join strategy
    # rather than on the data passes this test pins. The fallback shuffle
    # path is exactly the over-budget plan, so the pin still covers a real
    # execution shape; the broadcast path's correctness is pinned by
    # test_connected_components_shortcut_identical and the chain/hand-graph
    # tests, which run it unpatched.
    monkeypatch.setattr(session, "maybe_broadcast", lambda df, **_k: df)

    sc = spark.sparkContext
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("cc_jobcount", "cc")
        result = connected_components(nodes, edges)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_jobcount"))
        got = {r.doc_id: r.cluster_rep for r in result.collect()}
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 6}
    assert n_jobs == 6, (
        f"expected 1 edge-materialize + 1 init + 4 iteration jobs, saw {n_jobs}"
    )
    assert not calls, (
        "no count() jobs allowed: the edge/node scalars ride Observations "
        "on the two setup checkpoints and the LOOP converges via the "
        "Observation metric"
    )


def test_ppm_wav_codec_roundtrip():
    """The r13 pure-numpy codecs are REAL format implementations: encode ->
    decode is the identity on arbitrary arrays, the PPM parser honors
    netpbm whitespace/comment rules, the WAV parser walks chunk lists (so
    payloads with extra chunks still decode), and compressed formats still
    raise the documented NotImplementedError."""
    import numpy as np

    from the_movie_database_import_spark.operators.multimodal import (
        decode_image,
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 5, 3), dtype=np.uint8)
    out = decode_ppm(encode_ppm(img))
    assert out.shape == (11, 5, 3) and (out == img).all()

    # netpbm allows comments and arbitrary whitespace inside the header
    body = img.tobytes()
    weird = b"P6 # a comment\n# another\n 5\t11 #w h\n255\n" + body
    assert (decode_ppm(weird) == img).all()

    samples = rng.integers(-32768, 32768, size=333, dtype=np.int16)
    rate, back = decode_wav(encode_wav(samples, sample_rate=44100))
    assert rate == 44100 and (back == samples).all()

    # chunk-walk: a LIST chunk between fmt and data must be skipped
    import struct

    raw = encode_wav(samples, sample_rate=8000)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = raw[:36] + extra + raw[36:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    rate2, back2 = decode_wav(patched)
    assert rate2 == 8000 and (back2 == samples).all()

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0jpeg-ish")
    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI LIST")


def test_decoded_features_match_python_model(spark):
    """End-to-end decode queries vs a direct python replay of the pixel /
    sample rules — independent of the DuckDB oracle (which replays the
    same rules in SQL), this pins the Spark plumbing: Arrow batches carry
    real PPM/WAV bytes and the features come from decoded arrays."""
    import numpy as np

    from the_movie_database_import_spark.plans import REGISTRY

    img = (
        REGISTRY["q_multimodal_decode_image"]
        .spark_fn(spark, SF_DIR)
        .orderBy("asset_id")
        .limit(5)
        .collect()
    )
    for r in img:
        px = (r.asset_id * 31 + np.arange(192, dtype=np.int64) * 17) % 256
        assert (r.width, r.height) == (8, 8)
        assert r.sum_r == int(px[0::3].sum())
        assert r.sum_g == int(px[1::3].sum())
        assert r.sum_b == int(px[2::3].sum())

    aud = (
        REGISTRY["q_multimodal_decode_audio"]
        .spark_fn(spark, SF_DIR)
        .orderBy("asset_id")
        .limit(5)
        .collect()
    )
    for r in aud:
        s = ((r.asset_id * 7 + np.arange(256, dtype=np.int64) * 13) % 65536) - 32768
        assert (r.sample_rate, r.n_samples) == (8000, 256)
        assert (r.sum_sample, r.min_sample, r.max_sample) == (
            int(s.sum()),
            int(s.min()),
            int(s.max()),
        )


def test_connected_components_chain_log_rounds(spark, monkeypatch):
    """VERDICT r12 #4: a chain-shaped component (syndication rings, quote
    chains) must converge in O(log n) rounds, not O(n). Pointer jumping
    (`shortcut=True`, the default) composes label(label(u)) each round, so
    the distance the minimum travels roughly doubles per round: a 24-node
    path takes exactly 24 rounds under plain neighbor-min propagation and 7
    with the shortcut (python-model counts, pinned); a 300-node path
    converges in 11 shortcut rounds where plain would need 300. The r13
    driver fast path is disabled so the DISTRIBUTED loop's round counts
    are what this test pins."""
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.dedup import connected_components

    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)

    def chain(n):
        nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "node long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
        )
        return nodes, edges

    nodes, edges = chain(24)
    st_plain: dict = {}
    plain = connected_components(
        nodes, edges, shortcut=False, max_iters=64, stats=st_plain
    )
    assert {r.cluster_rep for r in plain.collect()} == {1}
    assert st_plain["rounds"] == 24, st_plain

    st_sc: dict = {}
    sc = connected_components(nodes, edges, stats=st_sc)
    assert {r.cluster_rep for r in sc.collect()} == {1}
    assert st_sc["rounds"] == 7, st_sc

    nodes, edges = chain(300)
    st_big: dict = {}
    got = connected_components(nodes, edges, stats=st_big)
    assert {r.cluster_rep for r in got.collect()} == {1}
    assert st_big["rounds"] <= 12, st_big  # python model: 11


def test_connected_components_shortcut_identical(spark, monkeypatch):
    """The shortcut never changes the answer — component-min is the unique
    fixpoint of both iterations (labels are monotone decreasing, bounded by
    the component minimum, and any fixpoint is constant per component), so
    every census/survivor/split consumer inherits the O(log n) bound with
    bit-identical output. Pin on a mixed topology: a chain, a clique, a
    star, two singletons, and a cross-cluster bridge."""
    from the_movie_database_import_spark.operators.dedup import connected_components

    edges_py = (
        [(i, i + 1) for i in range(10, 17)]  # chain 10..17
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
        + [(30, b) for b in range(31, 36)]  # star
        + [(17, 20)]  # bridge: chain + clique merge into one component
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(10, 40)], "node long"
    )
    edges = spark.createDataFrame(edges_py, "doc_a long, doc_b long")
    base = {
        (r.doc_id, r.cluster_rep, r.is_kept)
        for r in connected_components(nodes, edges, shortcut=False).collect()
    }
    fast = {
        (r.doc_id, r.cluster_rep, r.is_kept)
        for r in connected_components(nodes, edges).collect()
    }
    assert base == fast
    reps = {d: c for d, c, _ in fast}
    assert reps[17] == 10 and reps[23] == 10  # bridged component
    assert reps[35] == 30 and reps[39] == 39  # star + singleton


def test_connected_components_driver_path_identical(spark, monkeypatch):
    """The r13 budget-guarded driver union-find fast path must return
    exactly the distributed fixpoint's labeling — same mixed topology as
    the shortcut pin (chain + clique + star + bridge + singletons), plus
    an edge with an endpoint outside the node universe (both paths must
    ignore it)."""
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.dedup import (
        connected_components,
    )

    edges_py = (
        [(i, i + 1) for i in range(10, 17)]
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
        + [(30, b) for b in range(31, 36)]
        + [(17, 20)]
        + [(38, 999)]  # 999 is outside the node universe
    )
    nodes = spark.createDataFrame([(i,) for i in range(10, 40)], "node long")
    edges = spark.createDataFrame(edges_py, "doc_a long, doc_b long")

    fast = connected_components(nodes, edges)  # 30 nodes -> driver path
    assert fast.dtypes == [
        ("doc_id", "bigint"),
        ("cluster_rep", "bigint"),
        ("is_kept", "boolean"),
    ]
    got_fast = {(r.doc_id, r.cluster_rep, r.is_kept) for r in fast.collect()}

    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)
    st: dict = {}
    dist = connected_components(nodes, edges, stats=st)
    got_dist = {(r.doc_id, r.cluster_rep, r.is_kept) for r in dist.collect()}
    assert st["rounds"] > 0  # the distributed loop really ran
    assert got_fast == got_dist


def test_connected_components_contraction_finish_identical(spark, monkeypatch):
    """The r14 post-round-1 contraction finish (node table under the driver
    budget, edge table over it -> one distributed round, then union-find on
    the DISTINCT cross-cluster label pairs) must return exactly the
    distributed fixpoint's labeling. Budget 30 with 30 nodes / 37 edges
    forces precisely that path: the plain fast path needs edges <= budget
    (37 > 30), the contraction guard needs n <= budget (30 <= 30). Same
    mixed topology as the driver-path pin, including a chain (so round 1
    genuinely does NOT converge and the contracted graph is non-trivial)
    and an out-of-universe edge endpoint."""
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.dedup import (
        connected_components,
    )

    edges_py = (
        [(i, i + 1) for i in range(10, 17)]
        + [(a, b) for a in range(20, 28) for b in range(a + 1, 28)]
        + [(30, b) for b in range(31, 36)]
        + [(17, 20)]
        + [(38, 999)]  # 999 is outside the node universe
    )
    nodes = spark.createDataFrame([(i,) for i in range(10, 40)], "node long")
    edges = spark.createDataFrame(edges_py, "doc_a long, doc_b long")
    assert len(edges_py) > 30  # over the patched budget -> no plain fast path

    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 30)
    st_c: dict = {}
    mixed = connected_components(nodes, edges, stats=st_c)
    assert mixed.dtypes == [
        ("doc_id", "bigint"),
        ("cluster_rep", "bigint"),
        ("is_kept", "boolean"),
    ]
    got_mixed = {(r.doc_id, r.cluster_rep, r.is_kept) for r in mixed.collect()}
    assert st_c["rounds"] == 1  # exactly one distributed round ran

    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)
    st_d: dict = {}
    dist = connected_components(nodes, edges, stats=st_d)
    got_dist = {(r.doc_id, r.cluster_rep, r.is_kept) for r in dist.collect()}
    assert st_d["rounds"] > 1  # the full distributed fixpoint really ran
    assert got_mixed == got_dist


def test_decontaminate_removes_exactly_flagged_docs(spark):
    """`decontaminate` must drop precisely the docs `contamination_counts`
    flags at min_grams, keep full rows, and be a no-op when n exceeds every
    document length. Also pins the broadcast-probe plan: corpus rows reach
    the anti-join without an Exchange."""
    from the_movie_database_import_spark.operators.decontam import (
        contamination_counts,
        decontaminate,
    )

    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = {
        r.doc_id for r in contamination_counts(corpus, bench, n=3).collect()
    }
    assert flagged, "fixture must contain 3-gram overlap"
    clean = decontaminate(corpus, bench, n=3)
    assert clean.columns == corpus.columns
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert kept == all_ids - flagged
    # n longer than any document: nothing can overlap, nothing is dropped
    assert decontaminate(corpus, bench, n=10_000).count() == corpus.count()
    with pytest.raises(ValueError):
        contamination_counts(corpus, bench, n=0)
    # corpus side never shuffles before the probe: the only Exchanges in the
    # counts plan belong to the final per-doc aggregate, and the joins are
    # broadcast
    plan = (
        contamination_counts(corpus, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_curation_with_benchmark_decontaminates_first(spark):
    """curate_corpus(benchmark=...) must equal curate_corpus on the
    pre-decontaminated corpus — decontamination composes as a prefix stage,
    so no contaminated doc can appear in the output (even as a dedup
    survivor)."""
    from the_movie_database_import_spark.operators.curation import curate_corpus
    from the_movie_database_import_spark.operators.decontam import decontaminate

    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    kw = dict(quality_threshold=0.0, langs=("en", "de", "es", "fr", "zh"))
    via_param = curate_corpus(corpus, benchmark=bench, decontam_n=3, **kw)
    via_prefix = curate_corpus(decontaminate(corpus, bench, n=3), **kw)
    a = sorted(map(tuple, via_param.collect()))
    b = sorted(map(tuple, via_prefix.collect()))
    assert a == b and a


def test_redact_pii_counts_and_priority(spark):
    """Hand-built fixture: each kind is redacted with its typed placeholder
    and counted once; an IPv4 must be consumed by the ip pattern BEFORE the
    phone pattern could half-eat it (priority order), and sum(counts) ==
    number of placeholders in the redacted text."""
    from the_movie_database_import_spark.functions.text import redact_pii

    rows = [
        (1, "write to bob.smith+x@corp.example.org today"),
        (2, "server at 192.168.254.7 rebooted"),
        (3, "call +1 (555) 010-4477 now"),
        (4, "a@b.io and 10.0.0.1 and +44 20 7946 0958"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    parts = redact_pii(F.col("text"))
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            parts["n_email"].alias("n_email"),
            parts["n_ipv4"].alias("n_ipv4"),
            parts["n_phone"].alias("n_phone"),
            parts["redacted"].alias("redacted"),
        ).collect()
    }
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert got[1].redacted == "write to <EMAIL> today"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 1, 0)
    assert got[2].redacted == "server at <IP> rebooted"
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 1)
    assert got[3].redacted == "call <PHONE> now"
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (1, 1, 1)
    assert got[4].redacted == "<EMAIL> and <IP> and <PHONE>"
    assert (got[5].n_email, got[5].n_ipv4, got[5].n_phone) == (0, 0, 0)
    assert got[5].redacted == rows[4][1]


def test_build_vocab_rank_and_coverage(spark):
    """Hand-computable corpus: ranks order by count desc then token, and
    cum_frac is the exact prefix-sum fraction; top_k truncation keeps
    coverage relative to the FULL corpus; oov_rate agrees with the vocab."""
    from the_movie_database_import_spark.operators.vocab import build_vocab, oov_rate

    rows = [(1, "a a a b b c"), (2, "a b d")]  # a:4 b:3 c:1 d:1, total 9
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = {r.token: r for r in build_vocab(df).collect()}
    assert [(v.token, v.n_occurrences, v.rank) for v in sorted(vocab.values(), key=lambda r: r.rank)] == [
        ("a", 4, 1), ("b", 3, 2), ("c", 1, 3), ("d", 1, 4),
    ]
    assert vocab["b"].cum_frac == pytest.approx(7 / 9)
    assert vocab["d"].cum_frac == pytest.approx(1.0)
    top2 = build_vocab(df, top_k=2).collect()
    assert {r.token for r in top2} == {"a", "b"}
    assert max(r.cum_frac for r in top2) == pytest.approx(7 / 9), (
        "truncated table must keep full-corpus coverage"
    )
    oov = {r.doc_id: r for r in oov_rate(df, build_vocab(df, top_k=2)).collect()}
    assert oov[1].oov_frac == pytest.approx(1 / 6)  # 'c' of 6 tokens
    assert oov[2].oov_frac == pytest.approx(1 / 3)  # 'd' of 3 tokens
    with pytest.raises(ValueError):
        build_vocab(df, min_count=0)


def test_probe_dim_and_dim_mismatch_guard(spark):
    """probe_dim reads the data's true dimensionality with a limit-1 scan;
    the LSH operators default to it, so a regenerated fixture at a new dim
    can never silently run 64-component hyperplanes against it."""
    from the_movie_database_import_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_lsh,
        probe_dim,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    d = probe_dim(emb)
    assert d == emb.selectExpr("size(embedding) d").first().d
    # a deliberately wrong explicit dim corrupts signatures -> recall loss
    # vs the probed default on the SAME threshold (sanity that the probe
    # matters; both stay precision-exact because verification is fused)
    exact = cosine_neardup_pairs(emb, threshold=0.4).count()
    good = cosine_neardup_pairs_lsh(emb, threshold=0.4, planes=12, bands=6).count()
    assert exact > 0 and good > 0
    with pytest.raises(ValueError):
        probe_dim(emb.limit(0))


def test_contamination_counts_per_eval_set(spark):
    """bench_set_col yields per-(doc, eval set) evidence; summing a doc's
    per-set rows can exceed its unlabeled count only via grams shared
    between sets, and the unlabeled output equals the per-set output with
    one set."""
    from the_movie_database_import_spark.operators.decontam import (
        contamination_counts,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("setA", "alpha beta gamma"), ("setB", "beta gamma delta"),
         ("setB", "eta theta iota")],
        "eval_set string, text string",
    )
    per_set = {
        (r.doc_id, r.eval_set): r.n_contaminated_grams
        for r in contamination_counts(
            corpus, bench, n=3, bench_set_col="eval_set"
        ).collect()
    }
    # doc 1: setA contributes 'alpha beta gamma'; setB 'beta gamma delta'
    assert per_set == {(1, "setA"): 1, (1, "setB"): 1}
    flat = {
        r.doc_id: r.n_contaminated_grams
        for r in contamination_counts(corpus, bench, n=3).collect()
    }
    assert flat == {1: 2}


def test_redact_pii_custom_patterns(spark):
    """Caller-supplied pattern triples flow through both twins."""
    from the_movie_database_import_spark.functions.text import (
        redact_pii,
        redact_pii_oracle_sql,
    )

    pats = (("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),)
    df = spark.createDataFrame([(1, "ssn 123-45-6789 ok")], "id long, text string")
    parts = redact_pii(F.col("text"), patterns=pats)
    row = df.select(
        parts["n_ssn"].alias("n_ssn"), parts["redacted"].alias("redacted")
    ).first()
    assert (row.n_ssn, row.redacted) == (1, "ssn <SSN> ok")
    counts_sql, redacted_sql = redact_pii_oracle_sql("text", patterns=pats)
    assert "n_ssn" in counts_sql and "<SSN>" in redacted_sql


def test_incremental_dedup_against_digest_table(spark):
    """Incremental dedup: new docs duplicating the EXISTING corpus are
    flagged dup_of_existing and never kept; within-batch exact dups keep
    the smallest id; genuinely novel docs are kept — and the decision
    needs only the existing corpus's digest column, not its text."""
    from pyspark.sql import functions as SF
    from the_movie_database_import_spark.operators.delta import incremental_dedup

    existing = spark.createDataFrame(
        [(100, "already in corpus"), (101, "also present")],
        "doc_id long, text string",
    )
    seen = existing.select(SF.sha2("text", 256).alias("digest"))
    new = spark.createDataFrame(
        [
            (1, "already in corpus"),   # dup of existing
            (2, "fresh content"),       # novel, kept
            (3, "fresh content"),       # within-batch dup of 2
            (4, "other new text"),      # novel, kept
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.dup_of_existing, r.is_kept)
           for r in incremental_dedup(new, seen).collect()}
    assert got == {
        1: (True, False),
        2: (False, True),
        3: (False, False),
        4: (False, True),
    }
    assert set(incremental_dedup(new, seen).columns) == {
        "doc_id", "text", "dup_of_existing", "is_kept"
    }


def test_incremental_dedup_duplicate_id_cannot_cross_digests(spark):
    """The winner join-back keys on (digest, id), not id alone: an id
    reused for two DIFFERENT texts wins only its own digest group — the
    id-only formulation would match that id against every group it won
    and multiply/over-keep rows. NULL text stays its own (null-safe)
    digest group under the same smallest-id convention."""
    from the_movie_database_import_spark.operators.delta import incremental_dedup

    seen = spark.createDataFrame([], "digest string")
    new = spark.createDataFrame(
        [
            (1, "text A"),   # id 1 wins digest(A)
            (1, "text B"),   # same id, different text: wins digest(B) too
            (2, "text B"),   # loses digest(B) to id 1
            (3, None),       # NULL-text group, kept
            (4, None),       # loses NULL group to id 3
        ],
        "doc_id long, text string",
    )
    rows = incremental_dedup(new, seen).collect()
    assert len(rows) == 5  # no join-multiplicity row blowup
    kept = sorted((r.doc_id, r.text) for r in rows if r.is_kept)
    assert kept == [(1, "text A"), (1, "text B"), (3, None)]


def test_corpus_delta_null_text_and_membership(spark):
    """Presence comes from join-side markers, not digest nullness: a
    NULL-text doc present in both snapshots is 'unchanged' (null-safe
    digest equality), NULL->text is 'changed', and add/remove classify by
    side membership alone."""
    from the_movie_database_import_spark.operators.delta import corpus_delta

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now has text"), (3, "same"), (5, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_delta(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        4: "removed",
        5: "added",
    }


def test_python_udtf_matches_builtin_explode_twin(spark):
    """Spark 4 Python UDTF surface: a lateral-join table function must
    return exactly what the BUILT-IN posexplode/split twin returns — the
    production path stays the codegen twin (UDTFs are row-at-a-time
    Python, the documented slow path); the UDTF exists for logic the
    built-ins can't express, and this parity pin gates its plumbing."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_id: bigint, sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            if text is not None:
                for i, s in enumerate(text.split(". ")):
                    yield i, s

    spark.udtf.register("split_sentences", SplitSentences)
    docs = _docs(spark)
    docs.createOrReplaceTempView("t_udtf_docs")
    via_udtf = spark.sql(
        "SELECT doc_id, s.sent_id, s.sentence "
        "FROM t_udtf_docs, LATERAL split_sentences(text) s"
    )
    via_builtin = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\. ")).alias("sent_id", "sentence"),
    ).withColumn("sent_id", F.col("sent_id").cast("bigint"))
    a = sorted(map(tuple, via_udtf.collect()))
    b = sorted(map(tuple, via_builtin.collect()))
    assert a == b and a


def test_mix_corpus_hits_target_mixture(spark):
    """mix_corpus must (a) drop zero-weight groups, (b) keep the binding
    group (scarcest relative to its target) in full, (c) land each kept
    group's achieved fraction within sampling noise of its target, and
    (d) keep membership deterministic — a stable-id rerun returns the
    identical id set."""
    from the_movie_database_import_spark.operators.mixing import mix_corpus

    docs = _docs(spark)
    weights = {"en": 0.5, "de": 0.2, "fr": 0.15, "zh": 0.15}
    mixed = mix_corpus(docs, weights, group_col="lang")
    got = {r["lang"]: r["n"] for r in mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(weights), "zero-weight group leaked into the mix"
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    capacity = {g: n_by_lang[g] / w for g, w in weights.items()}
    binding = min(capacity, key=capacity.get)
    assert got[binding] == n_by_lang[binding], "binding group must keep all rows"
    total = sum(got.values())
    for g, w in weights.items():
        # expected-rate sampling: binomial noise at these sizes is ~±5 pp
        assert abs(got.get(g, 0) / total - w) < 0.08, (g, got, total)
    again = mix_corpus(docs.repartition(7), weights, group_col="lang")
    a = sorted(r["doc_id"] for r in mixed.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in again.select("doc_id").collect())
    assert a == b, "membership must be partitioning-independent"


def test_mix_corpus_rejects_bad_weights(spark):
    from the_movie_database_import_spark.operators.mixing import mix_corpus

    docs = _docs(spark)
    with pytest.raises(ValueError):
        mix_corpus(docs, {})
    with pytest.raises(ValueError):
        mix_corpus(docs, {"en": 0.5, "de": -0.1})
    with pytest.raises(ValueError):
        mix_corpus(docs, {"en": 0.5, "de": 0.0})


def test_shuffle_shards_contiguous_positions_and_determinism(spark):
    """shuffle_shards: every input row appears exactly once, shards are in
    [0, n), positions within each shard are exactly 1..k (contiguous, no
    gaps or dups), the order is md5-pseudorandom (not id order), and the
    assignment is partitioning-independent."""
    from the_movie_database_import_spark.operators.mixing import shuffle_shards

    docs = _docs(spark).select("doc_id")
    out = shuffle_shards(docs, n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert {r["shard"] for r in rows} <= set(range(8))
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # pseudorandom, not id order: within the largest shard the id sequence
    # ordered by pos must not be monotonically increasing
    largest = max(by_shard, key=lambda s: len(by_shard[s]))
    ids_in_pos_order = [
        r["doc_id"] for r in sorted(rows, key=lambda r: r["pos"])
        if r["shard"] == largest
    ]
    assert ids_in_pos_order != sorted(ids_in_pos_order)
    again = shuffle_shards(docs.repartition(5), n_shards=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        shuffle_shards(docs, n_shards=0)


def test_dedup_paragraphs_global_first_occurrence(spark):
    """dedup_paragraphs on a hand-built corpus: boilerplate repeated across
    docs survives only in its first (id, pos) occurrence; docs rebuild
    from surviving paragraphs in original order; an all-boilerplate doc
    drops; NULL-text docs drop; counts are right."""
    from the_movie_database_import_spark.operators.dedup import dedup_paragraphs

    rows = [
        (1, "alpha\nBOILER\nbravo"),
        (2, "BOILER\ncharlie"),          # BOILER already seen in doc 1 pos 1
        (3, "BOILER"),                   # pure boilerplate -> doc drops
        (4, "alpha\ndelta"),             # 'alpha' already seen in doc 1 pos 0
        (5, None),                       # NULL text -> drops
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in dedup_paragraphs(docs, sep="\n").collect()
    }
    assert out == {
        1: ("alpha\nBOILER\nbravo", 3, 3),
        2: ("charlie", 2, 1),
        4: ("delta", 2, 1),
    }


def test_dedup_paragraphs_custom_joiner_and_empty_paragraphs(spark):
    """Empty paragraphs dedup like any value (split('a||b') has an empty
    middle segment), and the joiner can differ from the separator."""
    from the_movie_database_import_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "a||b"), (2, "c||d")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(docs, sep="|", joiner=" ").collect()
    }
    # doc 1 keeps ('a', '', 'b'); doc 2's empty middle segment is a dup of
    # doc 1's and drops
    assert out == {1: "a  b", 2: "c d"}


def test_dedup_paragraphs_identity_when_all_unique(spark):
    """A corpus with no repeated paragraphs must round-trip exactly:
    rebuilt text == original text for every doc (split+filter+join is
    lossless when nothing drops), n_kept == n_paras."""
    from the_movie_database_import_spark.operators.dedup import dedup_paragraphs

    docs = _docs(spark).filter("text IS NOT NULL").limit(50)
    # make paragraphs globally unique by prefixing each doc's segments
    # with the doc id via a separator that never splits
    out = dedup_paragraphs(
        docs.select("doc_id", F.concat(F.col("doc_id"), F.lit("#"), F.col("text")).alias("text")),
        sep="<never-present>",
    ).collect()
    originals = {
        r["doc_id"]: f'{r["doc_id"]}#{r["text"]}'
        for r in docs.collect()
    }
    assert len(out) == len(originals)
    for r in out:
        assert r["text"] == originals[r["doc_id"]]
        assert r["n_paras"] == r["n_kept"] == 1


def test_mix_corpus_ignores_weighted_groups_absent_from_corpus(spark):
    """A weight for a group with zero corpus rows must not poison the
    feasibility computation (no 0-count capacity, no NULL rates): T is
    the min over PRESENT groups, and the result equals the same call
    without the phantom group."""
    from the_movie_database_import_spark.operators.mixing import mix_corpus

    docs = _docs(spark)
    with_phantom = mix_corpus(
        docs, {"en": 0.5, "de": 0.3, "xx": 0.2}, group_col="lang"
    )
    without = mix_corpus(docs, {"en": 0.5, "de": 0.3}, group_col="lang")
    a = sorted(r["doc_id"] for r in with_phantom.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in without.select("doc_id").collect())
    assert a == b and a


def test_unigram_nll_grid_safety():
    """The 1e-6 floor grid for unigram log-probs is only hash-safe if no
    distinct ln(c/C) value sits within engine-rounding distance of a grid
    boundary: a 1-ulp Java-vs-libm ln() difference (~1e-8 after the 1e6
    scale) could otherwise flip the floored integer. Verify the full
    distinct (c, C) value set at every test SF keeps >100x that margin."""
    import math

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH tok AS (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM '/root/testdata/{sf}/documents.parquet'
            ),
            counts AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token)
            SELECT DISTINCT c, SUM(c) OVER () AS total FROM counts
            """
        ).fetchall()
        assert rows
        for c, total in rows:
            v = 1e6 * math.log(c / total)
            dist = abs(v - round(v))
            assert dist > 1e-6, (sf, c, total, v, dist)


def test_mix_corpus_epochs_upsamples_binding_group(spark):
    """Epoch mixing: the binding group (scarcest vs target at max_epochs)
    emits exactly max_epochs copies of every row; no row exceeds
    max_epochs copies; epoch indexes are 1..n per doc; with max_epochs=1
    the emitted id set equals mix_corpus's."""
    from the_movie_database_import_spark.operators.mixing import (
        mix_corpus,
        mix_corpus_epochs,
    )

    docs = _docs(spark)
    weights = {"en": 0.3, "de": 0.4, "fr": 0.3}
    out = mix_corpus_epochs(docs, weights, max_epochs=3).collect()
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    binding = min(weights, key=lambda g: n_by_lang[g] * 3 / weights[g])
    per_doc: dict = {}
    for r in out:
        per_doc.setdefault((r["lang"], r["doc_id"]), []).append(r["epoch"])
    for (lang, doc), epochs in per_doc.items():
        assert sorted(epochs) == list(range(1, len(epochs) + 1)), (lang, doc)
        assert len(epochs) <= 3
        if lang == binding:
            assert len(epochs) == 3, (doc, epochs)
    assert {lang for lang, _ in per_doc} <= set(weights)
    one = sorted(
        r["doc_id"] for r in mix_corpus_epochs(docs, weights, max_epochs=1)
        .select("doc_id").collect()
    )
    plain = sorted(
        r["doc_id"] for r in mix_corpus(docs, weights).select("doc_id").collect()
    )
    assert one == plain and one
    with pytest.raises(ValueError):
        mix_corpus_epochs(docs, weights, max_epochs=0.5)


def test_rate_snap_restores_keep_all_threshold(spark):
    """The binding group's derived rate is w*(n/w)/n, which floats can
    round to 0.9999999999999999 (e.g. w=0.7) — below 1, so without the
    snap the keep predicate uses 'fffffffb...' instead of the keep-all
    'g' sentinel and the 1-in-2^32 bucket tail silently drops. Pin the
    mechanism directly: snap+threshold yields 'g' for the dirty value,
    and the raw threshold (no snap) does not."""
    from pyspark.sql import functions as F

    from the_movie_database_import_spark.operators.mixing import (
        _rate_threshold,
        _snap_rate,
    )

    dirty = 0.7 * (3 / 0.7) / 3
    assert dirty < 1.0  # the float hazard this test exists for
    row = spark.range(1).select(
        _rate_threshold(_snap_rate(F.lit(dirty))).alias("snapped"),
        _rate_threshold(F.lit(dirty)).alias("raw"),
        _snap_rate(F.lit(2.9999999999999996)).alias("epochs_snapped"),
        _snap_rate(F.lit(0.4)).alias("untouched"),
    ).collect()[0]
    assert row["snapped"] == "g"
    assert row["raw"] != "g"
    assert row["epochs_snapped"] == 3.0
    assert row["untouched"] == 0.4


def test_apply_delta_roundtrips_corpus_delta_scenario(spark):
    """apply_delta is the inverse of corpus_delta: replaying
    q_apply_delta's synthesized feed (inserts >= bucket 0.9, edits on
    every 31st doc, deletes < bucket 0.1) over the old snapshot must
    reconstruct the new snapshot EXACTLY — the same 'new' frame
    q_corpus_delta diffs against."""
    from the_movie_database_import_spark.operators.sampling import (
        hash_bucket,
        hex_threshold,
    )
    from the_movie_database_import_spark.plans import REGISTRY

    got = sorted(
        (r["doc_id"], r["text"])
        for r in REGISTRY["q_apply_delta"].spark_fn(spark, SF_DIR).collect()
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = docs.filter(
        hash_bucket(F.col("doc_id")) >= F.lit(hex_threshold(0.1))
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    expected = sorted((r["doc_id"], r["text"]) for r in new.collect())
    assert got == expected and got


def test_apply_delta_insert_update_delete_semantics(spark):
    from the_movie_database_import_spark.operators.delta import apply_delta

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    ups = spark.createDataFrame(
        [(2, "b2"), (4, "d")], "doc_id long, text string"
    )
    dels = spark.createDataFrame([(3,)], "doc_id long")
    got = sorted(
        (r["doc_id"], r["text"]) for r in apply_delta(snap, ups, dels).collect()
    )
    assert got == [(1, "a"), (2, "b2"), (4, "d")]
    # delete of an absent id and upsert colliding with delete: upsert wins
    # its own id (replace), delete only removes what exists
    dels2 = spark.createDataFrame([(99,)], "doc_id long")
    got2 = sorted(
        (r["doc_id"], r["text"]) for r in apply_delta(snap, ups, dels2).collect()
    )
    assert got2 == [(1, "a"), (2, "b2"), (3, "c"), (4, "d")]


def _span_dedup_model(corpus, k):
    """Independent python model of the rolling-k-gram cover rule: a token
    is dropped iff some k-gram occurrence starting at/overlapping it is
    NOT the global first (doc_id, pos) occurrence of that gram text."""
    first = {}
    for doc_id, text in sorted(corpus):
        toks = text.split(" ")
        for i in range(len(toks) - k + 1):
            gram = " ".join(toks[i : i + k])
            if gram not in first:
                first[gram] = (doc_id, i)
    out = {}
    for doc_id, text in corpus:
        toks = text.split(" ")
        covered = set()
        for i in range(len(toks) - k + 1):
            gram = " ".join(toks[i : i + k])
            if first[gram] != (doc_id, i):
                covered.update(range(i, i + k))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        out[doc_id] = (" ".join(kept), len(toks), len(kept))
    return out


def test_dedup_substring_spans_hand_cases(spark):
    """ExactSubstr span dedup on a hand corpus: a shared 5-token run
    inside otherwise-different sentences survives only in the first doc
    (NOT paragraph-aligned — dedup_paragraphs can't catch it); a doc
    shorter than k passes through whole; a doc that is one big repeat of
    the winner's text drops to empty; within-doc k-token repetition loses
    to its own first occurrence."""
    from the_movie_database_import_spark.operators.dedup import dedup_substring_spans

    span = "q w e r t"  # the duplicated 5-token span
    docs = spark.createDataFrame(
        [
            (1, f"a b {span} c d"),       # first occurrence: all kept
            (2, f"x y z {span} u v"),     # loses the span, keeps the rest
            (3, span),                    # the whole doc is the dup span
            (4, "short doc"),             # < k tokens: untouched
            (5, "p p p p p p p"),         # self-repetition: gram(ppppp)x3
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_kept"])
        for r in dedup_substring_spans(docs, k=5).collect()
    }
    assert got == _span_dedup_model(
        [(i, t) for i, t in docs.collect()], 5
    )
    assert got[1] == (f"a b {span} c d", 9, 9)
    assert got[2] == ("x y z u v", 10, 5)
    assert got[3] == ("", 5, 0)
    assert got[4] == ("short doc", 2, 2)
    # doc 5: grams at pos 0,1,2 identical; pos 1,2 lose -> cover 1..6
    assert got[5] == ("p", 7, 1)


def test_dedup_substring_spans_property_vs_model(spark):
    """Property check vs the independent python model on a pseudorandom
    small-vocabulary corpus (tiny vocab forces heavy cross- and self-
    duplication of k-grams), plus the conservation invariant
    n_kept == n_tokens - |covered| and global single-survival of every
    duplicated gram."""
    import random

    from the_movie_database_import_spark.operators.dedup import dedup_substring_spans

    rng = random.Random(7)
    vocab = ["a", "b", "c"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]
    k = 4
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_kept"])
        for r in dedup_substring_spans(docs, k=k).collect()
    }
    model = _span_dedup_model(corpus, k)
    assert got == model
    # every surviving gram text appears at most once across rebuilt docs
    # whose kept tokens are CONTIGUOUS runs of >= k (runs shorter than k
    # may re-create grams the cover never saw, so only full-width
    # winners are asserted)
    for doc_id, (text, n_tokens, n_kept) in got.items():
        assert 0 <= n_kept <= n_tokens
        assert n_kept == (len(text.split(" ")) if text else 0)


def test_span_rebuild_long_doc_linear(spark):
    """Long-doc stress for the span rebuild (VERDICT r07 #3): a 50k-token
    document that is ~90% covered by duplicated spans must rebuild in
    seconds, not hours — the rebuild's uncovered-position set is
    ``array_except`` (hash-set membership, O(L + |covered|)), not a
    per-token ``array_contains`` scan (O(L x |covered|) ~ 2x10^9
    comparisons for this doc, minutes-to-hours in one task). Correctness
    is pinned exactly: the winner doc keeps everything, the long doc
    keeps only its unique filler tokens."""
    import time

    from the_movie_database_import_spark.operators.dedup import dedup_substring_spans

    k = 10
    block = " ".join(f"d{i}" for i in range(k))  # the duplicated k-gram block
    # winner doc: the block once
    # long doc: 45k tokens of repeated block (covered) interleaved with
    # unique filler runs of k-1 (too short to form their own k-grams at
    # the boundaries is NOT guaranteed — so compute expectation vs model)
    n_rep = 4500
    filler = [f"u{j}" for j in range(5000)]
    long_toks = []
    fi = 0
    for _ in range(n_rep):
        long_toks.append(block)
        long_toks.append(filler[fi])
        fi += 1
    long_text = " ".join(long_toks)  # 4500*(k+1) = 49500 tokens
    docs = spark.createDataFrame(
        [(1, block), (2, long_text)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"])
        for r in dedup_substring_spans(docs, k=k).collect()
    }
    elapsed = time.monotonic() - t0
    assert got[1] == (k, k)
    n_tokens = n_rep * (k + 1)
    assert got[2][0] == n_tokens
    # every block occurrence in doc 2 loses to doc 1; every k-gram
    # STRADDLING a filler token contains that unique filler, occurs once
    # corpus-wide, and is its own winner — so exactly the block tokens
    # are covered and all 4500 fillers survive.
    assert got[2][1] == n_rep
    # runtime sanity: quadratic would be minutes+; linear is seconds.
    assert elapsed < 60, f"span rebuild took {elapsed:.1f}s on a 50k-token doc"


def test_dedup_spans_incremental_corpus_always_wins(spark):
    """Incremental span dedup: a batch span already in the corpus's gram
    side table is stripped even from the batch's FIRST occurrence (the
    corpus copy wins — incremental_dedup's dup_of_existing convention);
    batch-only duplication keeps the batch-first copy; and the composed
    semantics equal running the FULL operator over corpus+batch and
    keeping the batch rows, whenever corpus ids precede batch ids."""
    from the_movie_database_import_spark.operators.dedup import (
        dedup_substring_spans,
        dedup_substring_spans_incremental,
        substring_gram_digests,
    )

    span = "q w e r t"
    corpus = spark.createDataFrame(
        [(1, f"intro {span} outro")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, f"a b {span} c d"),     # span already in corpus: stripped
            (11, "fresh u v w x y z"),   # batch-first of a new span: kept
            (12, "no fresh u v w x y z"),# repeats doc 11's whole text
            (13, "tiny"),                # < k tokens: untouched
        ],
        "doc_id long, text string",
    )
    seen = substring_gram_digests(corpus, k=5)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_kept"])
        for r in dedup_substring_spans_incremental(batch, seen, k=5).collect()
    }
    assert got[10] == ("a b c d", 9, 4)
    assert got[11] == ("fresh u v w x y z", 7, 7)
    # doc 12 loses every gram it shares with doc 11 ("fresh u v w x" at
    # pos 1 through "v w x y z" at pos 3), covering tokens 1..7; only the
    # leading "no" survives
    assert got[12] == ("no", 8, 1)
    assert got[13] == ("tiny", 1, 1)

    # composition identity vs the full batch+corpus operator
    full = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_kept"])
        for r in dedup_substring_spans(corpus.unionByName(batch), k=5).collect()
        if r["doc_id"] >= 10
    }
    assert got == full


def test_quality_classifier_separation_and_determinism(spark):
    """Model-based quality filter pins (no SQL oracle — L-BFGS is
    iterative): a separable seed/crawl pair trains to near-perfect
    probability separation; refitting the same data reproduces the
    coefficient vector exactly; the derandomized Pareto rule keeps
    essentially all high-score docs and only a heavy-tail few low-score
    ones, and is a pure function of the doc id (re-run identical)."""
    import numpy as np

    from the_movie_database_import_spark.operators.mlquality import (
        filter_quality,
        fit_quality_classifier,
        score_quality,
    )

    pos = spark.createDataFrame(
        [(i, f"good clean prose text sample {i}") for i in range(60)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(1000 + i, f"spam junk garbage noise blob {i}") for i in range(60)],
        "doc_id long, text string",
    )
    m = fit_quality_classifier(pos, neg, num_features=1 << 16)
    sp = score_quality(pos, m).agg(F.avg("quality_prob")).first()[0]
    sn = score_quality(neg, m).agg(F.avg("quality_prob")).first()[0]
    assert sp > 0.9 and sn < 0.1, (sp, sn)

    m2 = fit_quality_classifier(pos, neg, num_features=1 << 16)
    assert np.array_equal(m.coefficients.toArray(), m2.coefficients.toArray())

    both = pos.unionByName(neg)
    kept1 = sorted(r["doc_id"] for r in filter_quality(both, m).collect())
    kept2 = sorted(r["doc_id"] for r in filter_quality(both, m).collect())
    assert kept1 == kept2, "Pareto keep must be deterministic in the id"
    n_pos_kept = sum(1 for i in kept1 if i < 1000)
    n_neg_kept = len(kept1) - n_pos_kept
    # directional bounds, not point values: the per-doc drop probability
    # depends on the trained score (P(drop) = 1 - (2 - prob)^-alpha), so
    # exact counts would pin the optimizer, not the keep rule
    assert n_pos_kept > 40, f"high-score docs mostly keep ({n_pos_kept}/60)"
    assert n_neg_kept < n_pos_kept / 2, (n_pos_kept, n_neg_kept)


def test_quality_classifier_scoring_plan_no_python(spark):
    """Scoring is JVM end-to-end: HashingTF + the broadcast LR model are
    ml transformers, so the scored plan must contain no Python eval
    stages (the UDF-is-the-slow-path discipline)."""
    from the_movie_database_import_spark.operators.mlquality import (
        fit_quality_classifier,
        score_quality,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("text").isNotNull()
    )
    pos = docs.filter(F.col("doc_id") % 97 == 0)
    neg = docs.filter(F.col("doc_id") % 97 == 1)
    m = fit_quality_classifier(pos, neg, num_features=1 << 14)
    plan = (
        score_quality(docs, m)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_token_kl_divergence_model_and_grid_safety(spark):
    """KL drift census: (1) exact agreement with an independent python
    model of the add-1-smoothed per-group KL on a hand corpus (including
    the quantization); (2) a group identical to the global distribution
    has near-zero KL while a skewed group is strictly larger; (3) the
    1e-6 floor grid is hash-safe at every test SF — no distinct
    p*ln(p/q) term sits within engine-rounding distance of a boundary
    (the unigram_nll discipline)."""
    import math

    import duckdb

    from the_movie_database_import_spark.operators.vocab import (
        token_kl_divergence,
    )

    corpus = [
        (1, "en", "a a b c"),
        (2, "en", "a b b d"),
        (3, "xx", "z z z z"),   # heavily skewed vs global
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    got = {
        r["lang"]: (r["n_tokens"], r["vocab_in_group"], r["kl_q_sum"])
        for r in token_kl_divergence(docs, group_col="lang").collect()
    }

    # independent model
    from collections import Counter

    per = {}
    glob = Counter()
    for _i, g, t in corpus:
        per.setdefault(g, Counter()).update(t.split(" "))
        glob.update(t.split(" "))
    v = len(glob)
    n = sum(glob.values())
    want = {}
    for g, cnt in per.items():
        ng = sum(cnt.values())
        s = 0
        for tok_, c in cnt.items():
            p = (c + 1) / (ng + v)
            q = (glob[tok_] + 1) / (n + v)
            s += math.floor(1e6 * (p * math.log(p / q)))
        want[g] = (ng, len(cnt), s)
    assert got == want
    # the skewed group diverges more than the near-global one
    assert got["xx"][2] > got["en"][2]

    # grid-boundary safety on the real fixtures: every distinct
    # (c, g, ng, n, v) tuple's term keeps >100x the 1-ulp ln() hazard
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH tok AS (
                SELECT lang, unnest(string_split(text, ' ')) AS token
                FROM '/root/testdata/{sf}/documents.parquet'
                WHERE text IS NOT NULL
            ),
            c AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token),
            g AS (SELECT token, SUM(c) AS g FROM c GROUP BY token),
            tot AS (SELECT SUM(c) AS n, COUNT(DISTINCT token) AS v FROM c),
            ng AS (SELECT lang, SUM(c) AS ng FROM c GROUP BY lang)
            SELECT DISTINCT c.c, g.g, ng.ng, tot.n, tot.v
            FROM c JOIN g ON c.token = g.token JOIN ng ON c.lang = ng.lang, tot
            """
        ).fetchall()
        assert rows
        for c, g_, ng_, n_, v_ in rows:
            p = (c + 1) / (ng_ + v_)
            q = (g_ + 1) / (n_ + v_)
            term = 1e6 * (p * math.log(p / q))
            dist = abs(term - round(term))
            assert dist > 1e-6, (sf, c, g_, ng_, n_, v_, term, dist)


def test_token_entropy_model_and_grid_safety(spark):
    """Entropy census: (1) exact agreement with an independent python
    model of the per-group Shannon entropy, quantization included; (2) a
    uniform group has entropy_norm == 1.0 while a skewed sibling with
    the same vocab is strictly lower; (3) a single-token group has
    entropy 0 and NULL entropy_norm (ln(1) normalization undefined);
    (4) the 1e-6 floor grid is hash-safe at every test SF — no distinct
    (c/N)*ln(N/c) term sits within engine-rounding distance of a
    boundary (the unigram_nll discipline)."""
    import math

    import duckdb

    from the_movie_database_import_spark.operators.vocab import (
        token_entropy_per_key,
    )

    corpus = [
        (1, "uni", "a b c d"),      # uniform over 4 tokens: norm = 1
        (2, "skew", "a a a a a b c d"),  # same vocab, skewed: norm < 1
        (3, "mono", "z z z"),       # one token: H = 0, norm NULL
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, source string, text string")
    got = {
        r["source"]: (
            r["n_tokens"], r["vocab_size"], r["entropy"], r["entropy_norm"]
        )
        for r in token_entropy_per_key(docs, group_col="source").collect()
    }

    from collections import Counter

    want = {}
    for _i, g, t in corpus:
        cnt = Counter(t.split(" "))
        n = sum(cnt.values())
        hq = sum(
            math.floor(1e6 * (c / n) * math.log(n / c)) for c in cnt.values()
        )
        v = len(cnt)
        want[g] = (
            n,
            v,
            round(hq / 1e6, 6),
            round(hq / 1e6 / math.log(v), 6) if v > 1 else None,
        )
    assert got == want
    # floor quantization shaves <=1e-6 per term off exact uniformity
    assert 1 - 1e-5 <= got["uni"][3] <= 1.0
    assert got["skew"][3] < got["uni"][3]
    assert got["mono"][2] == 0.0 and got["mono"][3] is None

    # grid-boundary safety on the real fixtures: every distinct (c, N)
    # pair's term keeps >100x the 1-ulp ln() hazard off a grid boundary
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH tok AS (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM '/root/testdata/{sf}/documents.parquet'
                WHERE text IS NOT NULL
            ),
            c AS (
                SELECT source, token, COUNT(*) AS c
                FROM tok GROUP BY source, token
            ),
            ng AS (SELECT source, SUM(c) AS ng FROM c GROUP BY source)
            SELECT DISTINCT c.c, ng.ng
            FROM c JOIN ng ON c.source = ng.source
            """
        ).fetchall()
        assert rows
        for c, ng_ in rows:
            if c == ng_:
                continue  # ln(1) = 0 exactly — on-grid by identity
            term = 1e6 * (c / ng_) * math.log(ng_ / c)
            dist = abs(term - round(term))
            assert dist > 1e-6, (sf, c, ng_, term, dist)


def test_token_pair_cooccurrence_hand_case(spark):
    """A-priori semantics: items under min_item_df never reach a pair
    (downward closure); pairs are unordered-unique with item_a < item_b;
    duplicate tokens in one doc count once; lift = n_both*N/(df_a*df_b)."""
    from the_movie_database_import_spark.operators.vocab import (
        token_pair_cooccurrence,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b b c"),   # duplicate b counts once
            (2, "a b rare"),  # rare: df=1, pruned at min_item_df=2
            (3, "b a"),       # order within doc irrelevant
            (4, "c"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["item_a"], r["item_b"]): r
        for r in token_pair_cooccurrence(
            docs, min_item_df=2, min_pair_support=2
        ).collect()
    }
    # dfs: a=3, b=3, c=2, rare=1(pruned). Pairs >= support 2: (a,b)=3, rest <2
    assert set(got) == {("a", "b")}
    r = got[("a", "b")]
    assert (r["n_both"], r["df_a"], r["df_b"]) == (3, 3, 3)
    assert r["lift"] == pytest.approx(3 * 4 / (3 * 3), rel=0)
    # support-1 pair of two frequent items was pruned by min_pair_support
    assert ("a", "c") not in got and ("b", "c") not in got


def test_token_pair_cooccurrence_matches_bruteforce(spark):
    """Census equals the itertools brute force on the real corpus at the
    query's thresholds."""
    import itertools
    import math
    from collections import Counter

    from the_movie_database_import_spark.operators.vocab import (
        token_pair_cooccurrence,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    n_total = docs.count()
    min_df, min_sup = math.ceil(n_total / 16.0), math.ceil(n_total / 4.0)
    got = {
        (r["item_a"], r["item_b"]): (r["n_both"], r["lift"])
        for r in token_pair_cooccurrence(
            docs, min_item_df=min_df, min_pair_support=min_sup
        ).collect()
    }
    texts = [r[0] for r in docs.select("text").collect()]
    dfs = Counter()
    baskets = []
    for t in texts:
        items = sorted(set(t.split(" ")))
        baskets.append(items)
        dfs.update(items)
    pairs = Counter()
    for items in baskets:
        keep = [i for i in items if dfs[i] >= min_df]
        pairs.update(itertools.combinations(keep, 2))
    want = {p: n for p, n in pairs.items() if n >= min_sup}
    assert set(got) == set(want)
    for p, n in want.items():
        assert got[p][0] == n
        assert got[p][1] == pytest.approx(
            n * n_total / (dfs[p[0]] * dfs[p[1]]), rel=1e-12
        )


def test_label_centroids_quantized_mean_hand_case(spark):
    """Centroid = (sum of floored 1e-6-grid components) / n / grid; long
    form has one row per (label, pos); n is the label's member count."""
    from the_movie_database_import_spark.operators.similarity import (
        CENTROID_QUANT,
        label_centroids,
    )

    rows = [
        (1, 0, [1.0, -0.5]),
        (2, 0, [3.0, 0.5]),
        (3, 7, [0.25, 0.25]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        (r["label"], r["pos"]): r for r in label_centroids(df).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (7, 0), (7, 1)}
    assert got[(0, 0)]["centroid"] == pytest.approx(2.0)
    assert got[(0, 1)]["centroid"] == pytest.approx(0.0)
    assert got[(0, 0)]["n"] == 2 and got[(7, 0)]["n"] == 1
    # floor quantization: -0.5 floors to -500000 exactly; a value like
    # 0.1 (inexact in binary) floors DOWN on the grid on both engines
    g = label_centroids(
        spark.createDataFrame(
            [(1, 0, [0.1])], "vec_id long, label int, embedding array<float>"
        )
    ).collect()[0]
    import math

    f32 = float.fromhex("0x1.99999ap-4")  # 0.1 as float32, exactly
    assert g["centroid"] == math.floor(CENTROID_QUANT * f32) / CENTROID_QUANT


def test_label_coherence_census_hand_and_model(spark):
    """Separated clusters assign to their own centroid (diagonal census);
    a vector planted nearer another label's centroid lands off-diagonal;
    the census matches a numpy brute force on the real embeddings."""
    import numpy as np

    from the_movie_database_import_spark.operators.similarity import (
        CENTROID_QUANT,
        label_coherence_census,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    rows = [
        (1, 0, [0.0, 0.0]),
        (2, 0, [0.2, 0.0]),
        (3, 1, [10.0, 10.0]),
        (4, 1, [10.2, 10.0]),
        (5, 1, [0.05, 0.05]),  # labeled 1, sits in label-0 territory
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        (r["true_label"], r["assigned_label"]): r["n"]
        for r in label_coherence_census(df).collect()
    }
    assert got == {(0, 0): 2, (1, 1): 2, (1, 0): 1}

    emb = load_table(spark, SF_DIR, "embeddings")
    pdf = emb.toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    labels = pdf["label"].to_numpy()
    cents = {}
    for lab in np.unique(labels):
        m = vecs[labels == lab]
        cents[lab] = np.floor(CENTROID_QUANT * m).sum(axis=0) / len(m) / CENTROID_QUANT
    labs_sorted = sorted(cents)
    want: dict = {}
    for v, lab in zip(vecs, labels):
        d = [(((v - cents[c]) ** 2).sum(), c) for c in labs_sorted]
        assigned = min(d)[1]
        want[(lab, assigned)] = want.get((lab, assigned), 0) + 1
    census = {
        (r["true_label"], r["assigned_label"]): r["n"]
        for r in label_coherence_census(emb).collect()
    }
    assert census == want


def test_tfidf_cosine_pairs_matches_bruteforce(spark):
    """Pairs and cosines equal a numpy brute force that replays the same
    quantized-weight arithmetic; pairs never cross blocks; symmetric
    dedup (doc_a < doc_b)."""
    import math
    from collections import Counter

    import numpy as np

    from the_movie_database_import_spark.operators.dedup import (
        TFIDF_QUANT,
        tfidf_cosine_pairs,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    thr = 0.7
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(docs, threshold=thr).collect()
    }
    pdf = docs.select("doc_id", "source", "text").toPandas()
    n_docs = len(pdf)
    tfs = {r.doc_id: Counter(r.text.split(" ")) for r in pdf.itertuples()}
    blocks = {r.doc_id: r.source for r in pdf.itertuples()}
    df_cnt = Counter()
    for tf in tfs.values():
        df_cnt.update(tf.keys())
    wq = {
        i: {
            t: math.floor(TFIDF_QUANT * (c * math.log(n_docs / df_cnt[t])))
            for t, c in tf.items()
        }
        for i, tf in tfs.items()
    }
    norms = {i: sum(w * w for w in ws.values()) for i, ws in wq.items()}
    ids = sorted(wq)
    want = {}
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            if blocks[a] != blocks[b]:
                continue
            shared = wq[a].keys() & wq[b].keys()
            if not shared:
                continue
            num = sum(wq[a][t] * wq[b][t] for t in shared)
            cos = num / (math.sqrt(norms[a]) * math.sqrt(norms[b]))
            if cos >= thr:
                want[(a, b)] = cos
    assert set(got) == set(want)
    for p, c in want.items():
        assert got[p] == pytest.approx(c, rel=1e-12), p
    assert len(got) > 0


def test_tfidf_weight_grid_safety(spark):
    """BM25-discipline margin pin: no tf·idf weight sits dangerously close
    to a floor-grid boundary at the test SF, so the soft-ln 1-ulp wobble
    cannot flip any quantized weight (margin scale = value ulp, with a
    generous 1e6x safety factor)."""
    import math
    from collections import Counter

    from the_movie_database_import_spark.operators.dedup import TFIDF_QUANT
    from the_movie_database_import_spark.sources.readers import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pdf = docs.select("doc_id", "text").toPandas()
    n_docs = len(pdf)
    tfs = [Counter(t.split(" ")) for t in pdf["text"]]
    df_cnt = Counter()
    for tf in tfs:
        df_cnt.update(tf.keys())
    worst = math.inf
    for tf in tfs:
        for t, c in tf.items():
            x = TFIDF_QUANT * (c * math.log(n_docs / df_cnt[t]))
            dist = min(x - math.floor(x), math.ceil(x) - x)
            ulp = math.ulp(x)
            if x == 0.0:
                # df == n_docs: idf = ln(1.0) = 0.0 is EXACT by the IEEE
                # contract — the only boundary-exact value that is safe
                continue
            assert dist > 1e6 * ulp, (t, c, x, dist, ulp)
            worst = min(worst, dist / ulp)
    assert worst > 1e6


def test_bigram_nll_grid_safety():
    """The 1e-6 floor grid for CONDITIONAL bigram log-probs is only
    hash-safe if no distinct ln(c/c1) value sits within engine-rounding
    distance of a grid boundary (the unigram_nll discipline). Verify the
    full distinct (c, c1) set at every test SF keeps >100x the ~1e-8
    1-ulp margin."""
    import math

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH tok AS (
                SELECT string_split(text, ' ') AS ts
                FROM '/root/testdata/{sf}/documents.parquet'
            ),
            bg AS (
                SELECT ts[i] AS w1, ts[i + 1] AS w2
                FROM tok, unnest(generate_series(1, len(ts) - 1)) AS g(i)
            ),
            counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2)
            SELECT DISTINCT c, SUM(c) OVER (PARTITION BY w1) AS c1
            FROM counts
            """
        ).fetchall()
        assert rows
        for c, c1 in rows:
            if c == c1:
                continue  # ln(1) = 0 exactly — on-grid by identity
            v = 1e6 * math.log(c / c1)
            dist = abs(v - round(v))
            assert dist > 1e-6, (sf, c, c1, v, dist)


def test_bigram_nll_order_sensitivity(spark):
    """The defining property: scrambling token ORDER leaves unigram NLL
    unchanged (same bag) but moves bigram NLL — on a corpus where one
    ordering is common and the scrambled one is rare, the rare order
    scores strictly higher."""
    from the_movie_database_import_spark.operators.vocab import bigram_nll

    rows = [(i, "a b c d") for i in range(9)] + [(9, "d c b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_nll(df).collect()}
    assert len(got) == 10
    common = got[0]["avg_nll_q"]
    rare = got[9]["avg_nll_q"]
    # 'a b' occurs 9x after a-starts; 'd c' is unique -> rare order is
    # less probable under the corpus LM
    assert rare > common
    # every doc has 3 bigrams
    assert all(r["n_bigrams"] == 3 for r in got.values())


def test_bigram_nll_short_docs_drop(spark):
    """Documents with < 2 tokens have no bigrams: they vanish from the
    census on both engines rather than scoring a degenerate 0."""
    from the_movie_database_import_spark.operators.vocab import bigram_nll

    df = spark.createDataFrame(
        [(1, "only"), (2, "two tokens"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_nll(df).collect()}
    assert set(got) == {2}
    assert got[2]["n_bigrams"] == 1
    # the lone bigram is the entire LM for w1='two': ln(1/1) = 0
    assert got[2]["nll_q_sum"] == 0


def test_source_syndication_hand_case(spark):
    """Three sources sharing one long paragraph pairwise: the shared
    span counts ONCE per pair regardless of how many documents in each
    source carry it; short fragments below min_chars never count; a
    paragraph confined to one source contributes nothing."""
    from the_movie_database_import_spark.operators.dedup import (
        source_syndication_census,
    )

    body = "quick brown foxes jump over lazy dogs repeatedly"
    assert len(body) >= 20
    rows = [
        (1, "s1", f"intro one the {body} the tail a"),
        (2, "s1", f"intro two the {body} the tail b"),  # dup within s1: once
        (3, "s2", f"other the {body}"),
        (4, "s3", f"third the {body} the unique third part only here"),
        (5, "s2", "short the ab the cd"),  # fragments < 20 chars: ignored
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r["n_shared_paragraphs"]
        for r in source_syndication_census(df).collect()
    }
    assert got == {("s1", "s2"): 1, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_source_syndication_matches_bruteforce(spark):
    """Independent model on real documents: the collect-set formulation
    must equal the brute-force distinct (source, paragraph) self-join."""
    import duckdb as _duck

    from the_movie_database_import_spark.operators.dedup import (
        source_syndication_census,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r["n_shared_paragraphs"]
        for r in source_syndication_census(docs).collect()
    }
    want = dict(
        (
            (sa, sb),
            n,
        )
        for sa, sb, n in _duck.sql(
            f"""
            WITH t AS (
                SELECT source, string_split(text, ' the ') AS ps
                FROM '{SF_DIR}/documents.parquet' WHERE text IS NOT NULL
            ),
            p AS (
                SELECT DISTINCT source, ps[i] AS para
                FROM t, unnest(generate_series(1, len(ps))) AS g(i)
                WHERE length(ps[i]) >= 20
            )
            SELECT a.source, b.source, COUNT(*)
            FROM p a JOIN p b ON a.para = b.para AND a.source < b.source
            GROUP BY 1, 2
            """
        ).fetchall()
    )
    assert got == want


def test_substring_search_equals_naive_scan(spark):
    """The trigram prefilter is NECESSARY (every true match contains all
    pattern trigrams) and verification is SUFFICIENT — so the
    accelerated path equals the naive contains() scan on the real
    corpus, for several patterns including one with zero matches. The
    zero-match pattern prunes to zero candidates, so verification reads
    no document text for it."""
    from the_movie_database_import_spark.operators.dedup import (
        build_trigram_index,
        substring_search,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx = build_trigram_index(docs).cache()
    try:
        for pat in ("vector merge", "stream window", "zzz-not-present"):
            got = {
                r["doc_id"]
                for r in substring_search(docs, idx, pat).collect()
            }
            want = {
                r["doc_id"]
                for r in docs.filter(
                    F.col("text").isNotNull() & F.col("text").contains(pat)
                ).collect()
            }
            assert got == want, pat
        absent = "zzz-not-present"
        tris = {absent[i : i + 3] for i in range(len(absent) - 2)}
        n_candidates = (
            idx.filter(F.col("trigram").isin(sorted(tris)))
            .groupBy("doc_id")
            .count()
            .filter(F.col("count") == len(tris))
            .count()
        )
        assert n_candidates == 0
    finally:
        idx.unpersist()


def test_substring_search_short_pattern_falls_back(spark):
    """Patterns under 3 chars have no trigram to prune on: the operator
    falls back to the naive scan (correct, just unaccelerated)."""
    from the_movie_database_import_spark.operators.dedup import (
        build_trigram_index,
        substring_search,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, None)],
        "doc_id long, text string",
    )
    idx = build_trigram_index(docs)
    got = {r["doc_id"] for r in substring_search(docs, idx, "mm").collect()}
    assert got == {2}


def test_substring_search_candidate_pruning_is_tight(spark):
    """A document containing every pattern trigram but NOT the pattern
    (trigrams scattered) survives pruning and is then rejected by
    verification — the case that separates the two stages."""
    from the_movie_database_import_spark.operators.dedup import (
        build_trigram_index,
        substring_search,
    )

    # pattern 'abcd' -> trigrams {abc, bcd}; doc 2 has both, not 'abcd'
    docs = spark.createDataFrame(
        [(1, "xx abcd yy"), (2, "abc then bcd"), (3, "nothing")],
        "doc_id long, text string",
    )
    idx = build_trigram_index(docs)
    got = {r["doc_id"] for r in substring_search(docs, idx, "abcd").collect()}
    assert got == {1}


def test_resolve_entities_hand_case(spark):
    """Transitivity is the point: 'anna' ~ 'annna' ~ 'annnax'? No —
    build a chain a~b, b~c where a,c are 2 edits apart: all three
    resolve to ONE entity under min-id survivorship; an unrelated name
    stays a singleton; duplicates of the same name collapse too."""
    from the_movie_database_import_spark.operators.fuzzy import resolve_entities

    rows = [
        (1, "anna"),
        (2, "annna"),   # 1 edit from anna
        (3, "aannna"),  # 1 edit from annna, 2 from anna -> transitive
        (4, "zzz-unrelated"),
        (5, "anna"),    # exact duplicate
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {r["entity_id"]: r for r in resolve_entities(df).collect()}
    assert set(got) == {1, 4}
    assert got[1]["n_members"] == 4
    assert got[1]["canonical_name"] == "anna"
    assert got[4]["n_members"] == 1


def test_resolve_entities_covers_every_input_row(spark):
    """Member counts sum to the input row count — singletons included,
    nothing dropped, nothing double-assigned."""
    from the_movie_database_import_spark.operators.fuzzy import resolve_entities

    cust = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter(F.col("c_nationkey") == 0)
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    )
    n_in = cust.count()
    rows = resolve_entities(cust).collect()
    assert sum(r["n_members"] for r in rows) == n_in
    assert len({r["entity_id"] for r in rows}) == len(rows)


def test_pca_spectrum_matches_numpy(spark):
    """MLlib's treeAggregate covariance + driver eigendecomposition must
    reproduce numpy's dense PCA spectrum on the real embeddings: the
    top-8 explained-variance ratios agree to 1e-6 relative and decay
    monotonically. Eigenvectors are deliberately NOT compared (sign /
    near-degenerate-rotation ambiguity across implementations)."""
    import numpy as np

    from the_movie_database_import_spark.operators.similarity import (
        pca_variance_spectrum,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = [
        (r["component"], r["explained_variance_ratio"], r["cumulative_ratio"])
        for r in pca_variance_spectrum(emb, k=8)
        .orderBy("component")
        .collect()
    ]
    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    Xc = X - X.mean(axis=0)
    # MLlib PCA uses the sample covariance (n-1 denominator)
    cov = Xc.T @ Xc / (len(X) - 1)
    eig = np.sort(np.linalg.eigvalsh(cov))[::-1]
    want = eig / eig.sum()
    assert len(got) == 8
    for (c, r, _), w in zip(got, want[:8]):
        assert r == pytest.approx(w, rel=1e-6), c
    ratios = [r for _, r, _ in got]
    assert ratios == sorted(ratios, reverse=True)
    assert got[-1][2] == pytest.approx(sum(ratios), rel=1e-12)


def test_lsh_multiprobe_recall_at_unchanged_budget(spark):
    """Multi-probe LSH (Lv et al.) recall pin at the scale ANN exists for
    (VERDICT r08 #6): on a deterministic 20k-vector isotropic corpus —
    the WORST case for LSH, no cluster structure — query-directed probing
    at (planes=48, bands=6, n_probe=56) reaches recall@10 >= 0.7 at a
    candidate fraction <= 0.25, the same budget the old exact-band
    default (16, 4) spent for recall ~0.5. Everything (corpus seed,
    hyperplanes, probe ranking) is deterministic, so the measured values
    are exact pins, not statistical bounds."""
    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        lsh_bucket_topk,
        lsh_multiprobe_candidates,
    )

    rng = np.random.default_rng(7)
    n, d = 20000, 64
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": list(V.astype(np.float64))}
        )
    )
    n_q = 100
    queries = emb.filter(F.col("vec_id") < n_q)
    exact = {}
    for r in cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    planes, bands, n_probe = 48, 6, 56
    n_cand = lsh_multiprobe_candidates(
        emb, queries, planes, bands, d, n_probe
    ).count()
    frac = n_cand / (n_q * n)
    assert frac <= 0.25, f"candidate fraction {frac:.3f} > 0.25 budget"

    got = {}
    rows = lsh_bucket_topk(
        emb, queries, k=10, planes=planes, bands=bands, dim=d, n_probe=n_probe
    ).collect()
    pairs = [(r.query_id, r.vec_id) for r in rows]
    assert len(pairs) == len(set(pairs)), "candidate emitted more than once"
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / (10 * n_q)
    assert recall >= 0.7, f"multi-probe recall@10 {recall:.3f} < 0.7"


def test_pq_topk_recall_and_exact_cosines(spark):
    """PQ + ADC + exact re-rank (Jegou et al.): at (m=8, k=256,
    shortlist=500 — 2.5% of the corpus re-ranked, 32x vector-memory
    compression) the deterministic 20k-vector corpus measures recall@10
    0.932 >= 0.9; every emitted cosine must be a true corpus cosine
    (the shortlist re-rank is exact), and pairs emit once."""
    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(7)
    n, d = 20000, 64
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": list(V.astype(np.float64))}
        )
    )
    n_q = 100
    queries = emb.filter(F.col("vec_id") < n_q)
    exact = {}
    brute = {}
    for r in cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    rows = pq_topk(
        emb, queries, k=10, m=8, n_centroids=256, shortlist=500
    ).collect()
    pairs = [(r.query_id, r.vec_id) for r in rows]
    assert len(pairs) == len(set(pairs))
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
        # re-ranked cosine is the true cosine of the raw vectors
        true_cos = float(V[r.query_id] @ V[r.vec_id])
        assert abs(r.cosine - true_cos) < 1e-6, (r, true_cos)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / (10 * n_q)
    assert recall >= 0.9, f"PQ recall@10 {recall:.3f} < 0.9"


def test_ivfpq_compression_is_nearly_free_on_top_of_ivf(spark):
    """IVF x PQ compounding (the FAISS IVFPQ shape): on the deterministic
    20k corpus, scanning PQ codes instead of raw vectors inside the probed
    buckets costs almost no recall relative to IVF-Flat at identical
    (centroids, probes) — pinned both absolutely (>= 0.5) and relatively
    (within 0.05 of IVF-only), with every emitted cosine exact."""
    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    n, d = 20000, 64
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": list(V.astype(np.float64))}
        )
    )
    n_q = 100
    queries = emb.filter(F.col("vec_id") < n_q)
    exact = {}
    for r in cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / (
            10 * n_q
        )

    kw = dict(k=10, n_centroids=16, n_probe=4)
    r_ivf = recall(ivf_topk(emb, queries, **kw).collect())
    rows = ivfpq_topk(emb, queries, **kw).collect()
    for r in rows:
        true_cos = float(V[r.query_id] @ V[r.vec_id])
        assert abs(r.cosine - true_cos) < 1e-6
    r_ivfpq = recall(rows)
    assert r_ivfpq >= 0.5, r_ivfpq
    assert r_ivfpq >= r_ivf - 0.05, (r_ivfpq, r_ivf)


def test_pq_index_served_identical_to_in_query(spark, tmp_path):
    """Persisted PQ index (VERDICT r09 #2): serving from stored codes +
    stored codebooks answers IDENTICALLY to the in-query retrain path on
    the same corpus/parameters — both flat PQ and IVFxPQ — because
    training is deterministic and the serve path shares the ADC +
    exact-re-rank core. Appended vectors are searchable without retrain,
    and the commit is atomic (manifest references the codebook sidecar)."""
    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        ivfpq_topk,
        pq_index_append,
        pq_index_build,
        pq_index_topk,
        pq_topk,
    )
    from the_movie_database_import_spark.sources.writers import (
        snapshot_current,
    )

    rng = np.random.default_rng(11)
    n, d = 2000, 64
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": list(V.astype(np.float64))}
        )
    )
    queries = emb.filter(F.col("vec_id") < 20)

    def key(rows):
        return sorted((r.query_id, r.vec_id, r.cosine) for r in rows)

    # flat PQ: served == in-query
    pq_path = str(tmp_path / "pq_index")
    man = pq_index_build(emb, pq_path, m=8, n_centroids=64)
    assert man["meta"]["index"] == "pq" and man["meta"]["m"] == 8
    import os

    assert os.path.exists(os.path.join(pq_path, man["meta"]["model_file"]))
    served = pq_index_topk(
        spark, pq_path, emb, queries, k=10, shortlist=100
    ).collect()
    inquery = pq_topk(
        emb, queries, k=10, m=8, n_centroids=64, shortlist=100
    ).collect()
    assert key(served) == key(inquery)

    # IVFxPQ: served == in-query at identical probes
    ivf_path = str(tmp_path / "ivfpq_index")
    man2 = pq_index_build(emb, ivf_path, m=8, n_centroids=64, ivf_centroids=8)
    assert man2["meta"]["index"] == "ivfpq"
    served2 = pq_index_topk(
        spark, ivf_path, emb, queries, k=10, shortlist=100, n_probe=3
    ).collect()
    inquery2 = ivfpq_topk(
        emb, queries, k=10, n_centroids=8, n_probe=3, pq_centroids=64,
        shortlist=100,
    ).collect()
    assert key(served2) == key(inquery2)

    # frozen-codebook append: new vectors become searchable, no retrain
    W = V[:5] * 0.999 + 0.001 * rng.standard_normal((5, d))
    W /= np.linalg.norm(W, axis=1, keepdims=True)
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, n + 5),
                "embedding": list(W.astype(np.float64)),
            }
        )
    )
    m3 = pq_index_append(new, pq_path)
    assert m3["generation"] == man["generation"] + 1
    assert m3["meta"] == man["meta"]  # codebooks carried, not retrained
    all_emb = emb.unionByName(new)
    served3 = pq_index_topk(
        spark, pq_path, all_emb, all_emb.filter(F.col("vec_id") < 5),
        k=1, shortlist=100,
    ).collect()
    # each near-clone is its original's top-1 with the TRUE exact cosine
    for r in served3:
        assert r.vec_id == r.query_id + n, r
        true_cos = float(V[r.query_id] @ W[r.vec_id - n])
        assert abs(r.cosine - true_cos) < 1e-6


def test_pq_index_lifecycle_cas_compact_vacuum(spark, tmp_path):
    """ANN index lifecycle over the snapshot protocol (VERDICT r10 #6):
    (a) CAS-pinned appends conflict instead of double-committing; (b)
    compacting the code segments preserves serve results bit-identically
    (codes are rows — OPTIMIZE must not change answers) and carries the
    index meta; (c) vacuum reclaims the superseded sidecar after a
    rebuild but never the live one (ADVICE r10; the aborted-build orphan
    case is test_pq_index_aborted_build_sidecar)."""
    import os

    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        pq_index_append,
        pq_index_build,
        pq_index_topk,
    )
    from the_movie_database_import_spark.sources.writers import (
        SnapshotConflictError,
        snapshot_compact,
        snapshot_current,
        snapshot_vacuum,
    )

    rng = np.random.default_rng(7)
    n, d = 600, 32
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)

    def frame(lo, hi):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(lo, hi),
                    "embedding": list(V[lo:hi].astype(np.float64)),
                }
            )
        )

    emb = frame(0, 500)
    path = str(tmp_path / "idx")
    man = pq_index_build(emb, path, m=4, n_centroids=16)
    gen0 = man["generation"]

    # (a) CAS append: a retried job pinned to the pre-append generation
    # must conflict; the blind append rebases and lands.
    pq_index_append(frame(500, 550), path, expected_generation=gen0)
    with pytest.raises(SnapshotConflictError):
        pq_index_append(frame(500, 550), path, expected_generation=gen0)
    m2 = pq_index_append(frame(550, 600), path)  # blind append rebases
    assert m2["generation"] == gen0 + 2
    assert m2["meta"] == man["meta"]

    # (b) compaction preserves serve results and meta
    all_emb = frame(0, 600)
    queries = all_emb.filter(F.col("vec_id") < 15)

    def key(rows):
        return sorted((r.query_id, r.vec_id, r.cosine) for r in rows)

    before = key(
        pq_index_topk(spark, path, all_emb, queries, k=5, shortlist=80).collect()
    )
    res = snapshot_compact(spark, path)
    assert res["files_after"] <= res["files_before"]
    cur = snapshot_current(path)
    assert cur["meta"] == man["meta"], "compaction must carry index meta"
    after = key(
        pq_index_topk(spark, path, all_emb, queries, k=5, shortlist=80).collect()
    )
    assert after == before, "OPTIMIZE changed serve results"

    # (c) rebuild supersedes the sidecar; vacuum reclaims only the stale one
    man3 = pq_index_build(emb, path, m=4, n_centroids=16)
    sidecars = [f for f in os.listdir(path) if f.startswith("_pqindex-")]
    assert len(sidecars) == 2  # old + new until vacuum
    reclaimed = snapshot_vacuum(path)
    assert man["meta"]["model_file"] in reclaimed
    live = [f for f in os.listdir(path) if f.startswith("_pqindex-")]
    assert live == [man3["meta"]["model_file"]]


def test_pq_index_aborted_build_sidecar(spark, tmp_path, monkeypatch):
    """A build whose snapshot commit raises must delete the sidecar it
    staged (ADVICE r10): crash-before-commit = no index AND no orphan."""
    import os

    import numpy as np
    import pandas as pd

    import the_movie_database_import_spark.operators.similarity as sim

    rng = np.random.default_rng(3)
    V = rng.standard_normal((100, 16))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(100), "embedding": list(V.astype(np.float64))}
        )
    )
    path = str(tmp_path / "idx")

    def boom(*a, **k):
        raise RuntimeError("simulated commit failure")

    import the_movie_database_import_spark.sources.writers as writers

    monkeypatch.setattr(writers, "snapshot_write", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        sim.pq_index_build(emb, path, m=4, n_centroids=8)
    orphans = [
        f for f in os.listdir(path) if f.startswith("_pqindex-")
    ] if os.path.exists(path) else []
    assert orphans == [], f"aborted build left sidecar orphans: {orphans}"


def test_registry_ivfpq_served_matches_in_query(spark):
    """The REGISTRY entry q_similarity_ivfpq_served (VERDICT r10 #3) must
    answer identically to the in-query q_similarity_ivfpq_topk at the same
    corpus/params — the served==in-query pin extended from the operator
    level to the registered production shape the driver executes."""
    from the_movie_database_import_spark.plans import REGISTRY

    def key(rows):
        return sorted((r.query_id, r.vec_id, r.cosine) for r in rows)

    served = REGISTRY["q_similarity_ivfpq_served"].spark_fn(
        spark, SF_DIR
    ).collect()
    inquery = REGISTRY["q_similarity_ivfpq_topk"].spark_fn(
        spark, SF_DIR
    ).collect()
    assert key(served) == key(inquery)


def test_heavy_hitters_threshold_boundary_exact(spark):
    """ADVICE r10 boundary pin: phi=0.004 (binary double rounds UP:
    0.004000...083) over a 250-token corpus puts phi·N exactly at the
    integer 1 — ceil of the double product reads 2 and silently excludes
    boundary tokens, while the exact-rational compare (count·den >=
    num·N, phi snapped to 1/250) keeps them, matching what DuckDB's
    exact DECIMAL ceil would compute. Every one of the 250 distinct
    single-occurrence tokens is phi-heavy at this boundary."""
    from the_movie_database_import_spark.operators.vocab import heavy_hitters

    text = " ".join(f"w{i}" for i in range(250))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = heavy_hitters(docs, phi=0.004).collect()
    assert len(got) == 250, (
        f"boundary tokens excluded: {len(got)} of 250 "
        "(double-rounded ceil regressed)"
    )
    assert all(r.n_occurrences == 1 for r in got)


def test_heavy_hitters_exact_under_eviction_and_partitioning(spark):
    """The sketch path is only honest when capacity << vocabulary forces
    real Misra-Gries evictions: a seeded Zipf corpus (vocab 2000, docs
    sharded adversarially so no partition sees the whole stream) with
    capacity pinned to the 2/phi default must still emit EXACTLY the
    brute-force phi-heavy set — same tokens, same exact counts — under
    several different partitionings (the superset + exact-recount
    guarantee is partitioning-invariant)."""
    import random
    from collections import Counter

    from the_movie_database_import_spark.operators.vocab import heavy_hitters

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(2000)]
    weights = [1.0 / (i + 1) for i in range(2000)]  # Zipf(1)
    docs, stream = [], []
    for d in range(400):
        toks = rng.choices(vocab, weights=weights, k=50)
        stream.extend(toks)
        docs.append((d, " ".join(toks)))
    n = len(stream)
    phi = 0.005
    cnt = Counter(stream)
    # threshold exactly the operator's way: ceil(phi * n)
    import math

    thr = math.ceil(phi * n)
    want = {t: c for t, c in cnt.items() if c >= thr}
    assert want, "fixture must produce heavy hitters"
    assert len(cnt) > 800, "fixture must have vocab >> capacity (400)"

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for parts in (1, 7, 32):
        got = {
            r["token"]: r["n_occurrences"]
            for r in heavy_hitters(
                df.repartition(parts), phi=phi
            ).collect()
        }
        assert got == want, (parts, len(got), len(want))


def test_containment_scores_hand_case(spark):
    """Containment semantics by construction: a doc that IS the benchmark
    scores 1.0; a doc sharing half its distinct grams scores 0.5; a doc
    sharing nothing scores 0.0 but still appears (complete audit table);
    duplicate grams inside a doc count once (distinct-shingle
    denominator); and the score is monotone in actual overlap."""
    from the_movie_database_import_spark.operators.decontam import (
        containment_scores,
    )

    bench = spark.createDataFrame(
        [(100, "a b c d")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),          # grams {ab, bc, cd} all in bench -> 1.0
            (2, "a b x a b x a b"),  # distinct grams {ab, bx, xa}; only ab
                                     # matches -> 1/3 (duplicates count once)
            (3, "x y z w"),          # no overlap -> 0.0, still emitted
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in containment_scores(corpus, bench, n=2).collect()
    }
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_grams"], got[1]["n_matched"]) == (3, 3)
    assert got[1]["containment"] == 1.0
    assert (got[2]["n_grams"], got[2]["n_matched"]) == (3, 1)
    assert got[2]["containment"] == round(1 / 3, 6)
    assert (got[3]["n_grams"], got[3]["n_matched"]) == (3, 0)
    assert got[3]["containment"] == 0.0
    with pytest.raises(ValueError):
        containment_scores(corpus, bench, n=0)


def test_zipf_fit_model_and_grid_safety(spark):
    """Zipf fit: (1) exact agreement with an independent python OLS model
    (quantization included) on a constructed corpus; (2) an exact power
    law c_r = 840/r fits slope ~ -1; (3) a single-token vocabulary emits
    NULL slope/intercept; (4) the 1e-6 floor grid is hash-safe at every
    test SF for BOTH axes — no distinct ln(rank) or ln(count) sits
    within engine-rounding distance of a boundary (skipping ln(1) = 0,
    on-grid by identity)."""
    import math

    import duckdb

    from the_movie_database_import_spark.operators.vocab import zipf_fit_per_key

    # exact-power-law corpus: token w_r appears 840/r times, r = 1..8
    counts = {f"w{r}": 840 // r for r in range(1, 9)}
    text = " ".join(t for t, c in sorted(counts.items()) for _ in range(c))
    docs = spark.createDataFrame(
        [(1, "zipf", text), (2, "mono", "z z z")],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r for r in zipf_fit_per_key(docs).collect()}

    # independent model (quantized, ordinal ranks by count desc, token asc)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [math.floor(1e6 * math.log(r + 1)) for r in range(len(ordered))]
    ys = [math.floor(1e6 * math.log(c)) for _, c in ordered]
    n, sx, sy = len(xs), sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want_slope = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    want_icpt = round((sy * sxx - sx * sxy) / (n * sxx - sx * sx) / 1e6, 6)
    z = got["zipf"]
    assert (z["n_tokens"], z["vocab_size"]) == (sum(counts.values()), 8)
    assert z["zipf_slope"] == want_slope
    assert z["zipf_intercept"] == want_icpt
    assert abs(z["zipf_slope"] - (-1.0)) < 0.02  # the law itself
    assert got["mono"]["zipf_slope"] is None
    assert got["mono"]["zipf_intercept"] is None

    # grid-boundary safety on the real fixtures, both axes
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH tok AS (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM '/root/testdata/{sf}/documents.parquet'
                WHERE text IS NOT NULL
            ),
            c AS (
                SELECT source, token, COUNT(*) AS c
                FROM tok GROUP BY source, token
            ),
            r AS (
                SELECT source,
                       ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY c DESC, token ASC) AS rnk, c
                FROM c
            )
            SELECT DISTINCT v FROM (
                SELECT rnk AS v FROM r UNION SELECT c AS v FROM r
            )
            """
        ).fetchall()
        assert rows
        for (v,) in rows:
            if v == 1:
                continue  # ln(1) = 0 exactly — on-grid by identity
            t = 1e6 * math.log(v)
            dist = abs(t - round(t))
            assert dist > 1e-6, (sf, v, t, dist)


def test_token_burstiness_separates_flat_from_bursty(spark):
    """Hand-built corpus where the dispersion statistics are computable by
    hand: a function word appearing ONCE PER DOC has zero variance (vmr
    0); a df=1 token has undefined sample variance (vmr NULL); a bursty
    token with counts (1,1,1,8) has vmr = (4*67 - 121)/(3*11) = 4.4545...;
    burst = cf/df exactly."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        token_burstiness,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the burst",
                    "the burst",
                    "the burst",
                    "the burst burst burst burst burst burst burst burst "
                    "rare rare rare",
                ],
            }
        )
    )
    rows = {r.token: r for r in token_burstiness(docs, top_k=10).collect()}
    assert rows["the"].df == 4 and rows["the"].cf == 4
    assert rows["the"].burst == 1.0 and rows["the"].vmr == 0.0
    assert rows["burst"].df == 4 and rows["burst"].cf == 11
    assert rows["burst"].burst == 2.75
    assert abs(rows["burst"].vmr - 4.454545) < 1e-5
    assert rows["rare"].df == 1 and rows["rare"].cf == 3
    assert rows["rare"].vmr is None  # sample variance undefined at df=1


def test_token_burstiness_topk_is_deterministic_under_ties(spark):
    """cf ties break by token ASC so the emitted top-k SET is stable
    across partitionings (the oracle-hashability requirement)."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        token_burstiness,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["b a d c e f g h"]})
    )
    got = [r.token for r in token_burstiness(docs, top_k=3).collect()]
    assert got == ["a", "b", "c"]


def test_source_vocab_overlap_identity_mirror_disjoint(spark):
    """A mirrored source scores jaccard 1.0 against its original, a
    partially-overlapping source scores the exact integer ratio, and a
    vocabulary-disjoint source emits NO pair row (jaccard 0 by
    definition; the census reports overlap, mirrored in the oracle)."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        source_vocab_overlap,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "source": ["orig", "mirror", "half", "alien"],
                "text": [
                    "alpha beta gamma delta",
                    "delta gamma beta alpha",
                    "alpha beta zeta eta",
                    "omega psi",
                ],
            }
        )
    )
    got = {
        (r.source_a, r.source_b): r
        for r in source_vocab_overlap(docs).collect()
    }
    assert got[("mirror", "orig")].jaccard == 1.0
    half = got[("half", "orig")]
    assert half.inter == 2 and half.vocab_a == 4 and half.vocab_b == 4
    assert abs(half.jaccard - 2 / 6) < 1e-6
    assert not any("alien" in k for k in got), "disjoint pair must be absent"


def test_pq_index_recall_probe_exactness_and_floor(spark, tmp_path):
    """The rebuild-on-drift probe (VERDICT r10 #6, made measurable):
    (a) with a shortlist covering the whole corpus the served path IS
    brute force after the exact re-rank, so recall@k == 1.0 for every
    query — the probe's own calibration invariant; (b) at a tight
    shortlist the probe still reports a high floor on well-clustered
    data; (c) one row per query, hits <= k, recall = hits/k, and a
    corpus-member query never counts itself as a hit."""
    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        pq_index_build,
        pq_index_recall_probe,
    )

    rng = np.random.default_rng(11)
    n, d = 400, 16
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": list(V.astype(np.float64))}
        )
    )
    path = str(tmp_path / "idx")
    pq_index_build(emb, path, m=4, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 8)

    full = pq_index_recall_probe(
        spark, path, emb, queries, k=5, shortlist=n
    ).collect()
    assert len(full) == 8
    assert all(r.hits == 5 and r.recall == 1.0 for r in full), (
        "shortlist >= corpus must reduce to exact brute force"
    )

    tight = pq_index_recall_probe(
        spark, path, emb, queries, k=5, shortlist=60
    ).collect()
    assert len(tight) == 8
    assert all(0 <= r.hits <= 5 for r in tight)
    assert all(abs(r.recall - r.hits / 5) < 1e-9 for r in tight)
    mean_recall = sum(r.recall for r in tight) / len(tight)
    assert mean_recall >= 0.5, f"probe floor collapsed: {mean_recall}"


def test_pq_index_rebuild_on_drift_recovers_recall(spark, tmp_path):
    """The maintenance loop `pq_index_append`'s docstring prescribes, run
    end to end with planted drift: build, append a drift batch, probe it,
    rebuild at the same path, re-probe, vacuum. The base corpus lives in
    the positive orthant and the drift batch in the negative one, so the
    build-time codebooks have no support where the drift sub-vectors land:
    they snap to boundary codes and the ADC shortlist goes blind. The
    drift batch has the base corpus's internal geometry, so a retrained
    index resolves it again. The recall figures themselves are left
    unpinned; only the floor crossings are."""
    import os

    import numpy as np
    import pandas as pd

    from the_movie_database_import_spark.operators.similarity import (
        pq_index_append,
        pq_index_build,
        pq_index_recall_probe,
        pq_index_topk,
    )
    from the_movie_database_import_spark.sources.writers import snapshot_vacuum

    n_base, n_drift, d, k, shortlist, n_q = 400, 100, 16, 5, 40, 20
    rng = np.random.default_rng(7)
    base = np.abs(rng.standard_normal((n_base, d)))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    drift = -np.abs(rng.standard_normal((n_drift, d)))
    drift /= np.linalg.norm(drift, axis=1, keepdims=True)

    def frame(mat, start):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(start, start + len(mat)),
                    "embedding": list(mat.astype(np.float64)),
                }
            )
        )

    base_df = frame(base, 0)
    drift_df = frame(drift, n_base)
    full_df = base_df.unionByName(drift_df)
    base_q = base_df.filter(F.col("vec_id") < n_q)
    drift_q = drift_df.filter(F.col("vec_id") < n_base + n_q)
    path = str(tmp_path / "idx")

    def recall(corpus, queries):
        rows = pq_index_recall_probe(
            spark, path, corpus, queries, k=k, shortlist=shortlist
        ).collect()
        return sum(r.recall for r in rows) / len(rows)

    def exact_serve():
        # shortlist >= corpus: the served top-k is brute force whatever
        # the codebooks, so a rebuild must not change it
        rows = pq_index_topk(
            spark, path, full_df, base_q, k=k, shortlist=n_base + n_drift
        ).collect()
        return sorted((r.query_id, r.vec_id, r.cosine) for r in rows)

    pq_index_build(base_df, path, m=4, n_centroids=16)
    floor = recall(base_df, base_q) - 0.05

    pq_index_append(drift_df, path)
    before = recall(full_df, drift_q)
    assert before < floor, f"drift batch {before} did not cross floor {floor}"
    served_before = exact_serve()

    pq_index_build(full_df, path, m=4, n_centroids=16)
    after = recall(full_df, drift_q)
    assert after >= floor, f"rebuild left drift batch at {after} < {floor}"
    assert exact_serve() == served_before

    snapshot_vacuum(path, keep=1)
    sidecars = [f for f in os.listdir(path) if f.startswith("_pqindex-")]
    assert len(sidecars) == 1, sidecars


def test_vocab_merge_incremental_composition_identity(spark, tmp_path):
    """k CAS-pinned merges of disjoint batches must equal ONE full recount
    bit-exactly (integer sums — the incremental family's contract), each
    merge committing a new generation; an empty batch is a no-op on the
    counts."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        build_vocab,
        vocab_merge_incremental,
    )
    from the_movie_database_import_spark.sources.writers import (
        snapshot_current,
        snapshot_read,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(9),
                "text": [
                    "a b c", "a a b", "c d", "e a", "b b b",
                    "d e f", "a", "f f", "g a b",
                ],
            }
        )
    )
    side = str(tmp_path / "vocab")
    for r in (0, 1, 2):
        vocab_merge_incremental(docs.filter(F.col("doc_id") % 3 == r), side)
    assert snapshot_current(side)["generation"] == 3
    merged = {
        r.token: (r.n, r.df, int(r.sc2))
        for r in snapshot_read(spark, side).collect()
    }
    full = {
        r.token: r.n
        for r in build_vocab(docs).select("token", F.col("n")).collect()
    } if "n" in build_vocab(docs).columns else None
    # full recount of all three maintained statistics (r12 widened schema):
    # n = corpus frequency, df = containing docs, sc2 = sum of per-doc c^2
    recount = {
        r.token: (r.n, r.df, r.sc2)
        for r in docs.select(
            F.col("doc_id"), F.explode(F.split("text", " ")).alias("t")
        )
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("t")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("df"),
            F.sum(F.col("c") * F.col("c")).alias("sc2"),
        )
        .withColumnRenamed("t", "token")
        .collect()
    }
    assert merged == recount, (merged, recount)
    if full is not None:
        assert {t: v[0] for t, v in merged.items()} == full

    vocab_merge_incremental(docs.filter(F.lit(False)), side)  # empty batch
    assert {
        r.token: (r.n, r.df, int(r.sc2))
        for r in snapshot_read(spark, side).collect()
    } == recount
    assert snapshot_current(side)["generation"] == 4


def test_vocab_growth_curve_hand_model(spark):
    """Hand-built 4-doc corpus at 2 checkpoints: every output cell is
    computable by hand, including the distinct-vocabulary count via each
    token's first document."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        vocab_growth_curve,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b",        # vocab {a,b}, 2 toks
                    "a c c",      # +{c}, 3 toks
                    "a b",        # +{}, 2 toks
                    "d d d d",    # +{d}, 4 toks
                ],
            }
        )
    )
    rows = vocab_growth_curve(docs, n_checkpoints=2).collect()
    assert [r.bucket for r in rows] == [1, 2]
    b1, b2 = rows
    assert (b1.last_doc, b1.docs_seen, b1.cum_tokens, b1.cum_vocab) == (
        2, 2, 5, 3
    )
    assert (b2.last_doc, b2.docs_seen, b2.cum_tokens, b2.cum_vocab) == (
        4, 4, 11, 4
    )


def test_dedup_savings_census_hand_model(spark):
    """Hand-built graph: docs {1,2,3} one cluster (7+3+4 tokens, keep 1 →
    7 kept, 7 removable), {4,5} a pair (2+2, keep 4 → 2 removable),
    {6} a singleton (5 tokens, nothing removable). The census must sum
    to the whole corpus and match exactly per cluster size."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": [
                    "a b c d e f g",
                    "a b c",
                    "a b c d",
                    "x y",
                    "x y",
                    "p q r s t",
                ],
            }
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 4], "doc_b": [2, 3, 5]})
    )
    rows = {
        r.cluster_size: r for r in dedup_savings_census(docs, edges).collect()
    }
    assert set(rows) == {1, 2, 3}
    s1, s2, s3 = rows[1], rows[2], rows[3]
    assert (s1.n_clusters, s1.n_docs, s1.docs_removable) == (1, 1, 0)
    assert (s1.tokens_total, s1.tokens_removable) == (5, 0)
    assert (s2.n_clusters, s2.n_docs, s2.docs_removable) == (1, 2, 1)
    assert (s2.tokens_total, s2.tokens_removable) == (4, 2)
    assert (s3.n_clusters, s3.n_docs, s3.docs_removable) == (1, 3, 2)
    assert (s3.tokens_total, s3.tokens_removable) == (14, 7)
    # self-normalizing: the census covers the whole corpus exactly once
    assert sum(r.n_docs for r in rows.values()) == 6
    assert sum(r.tokens_total for r in rows.values()) == 23


def test_vocab_merge_first_write_race_conflicts(spark, tmp_path, monkeypatch):
    """The FIRST merge is CAS-pinned to generation 0 (ADVICE r11): if a
    concurrent merge commits generation 1 between this merge's None read
    and its commit, the loser must get SnapshotConflictError — NOT
    silently replace the table with only its own batch's counts.
    Simulated by patching the merge's current-pointer read to report None
    while a concurrent commit has already landed."""
    import pandas as pd
    import pytest

    from the_movie_database_import_spark.operators import vocab as vocab_mod
    from the_movie_database_import_spark.operators.vocab import (
        vocab_merge_incremental,
    )
    from the_movie_database_import_spark.sources import writers
    from the_movie_database_import_spark.sources.writers import (
        SnapshotConflictError,
        snapshot_read,
        snapshot_write,
    )

    side = str(tmp_path / "vocab")
    concurrent = spark.createDataFrame(
        pd.DataFrame(
            {
                "token": ["a", "b"],
                "n": [3, 1],
                "df": [2, 1],
                "sc2": [5, 1],
            }
        )
    ).withColumn("sc2", F.col("sc2").cast("decimal(38,0)"))
    snapshot_write(concurrent, side)  # the racing merge: generation 1

    real_current = writers.snapshot_current
    calls = {"n": 0}

    def racing_current(path):
        # first read (the merge's branch decision) sees the pre-race None;
        # every later read (inside the commit path) sees reality
        calls["n"] += 1
        if calls["n"] == 1:
            return None
        return real_current(path)

    monkeypatch.setattr(writers, "snapshot_current", racing_current)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["z z"]})
    )
    with pytest.raises(SnapshotConflictError):
        vocab_merge_incremental(docs, side)
    monkeypatch.undo()
    # the concurrent merge's counts survive untouched
    assert {r.token: r.n for r in snapshot_read(spark, side).collect()} == {
        "a": 3,
        "b": 1,
    }
    # and a non-racing retry merges cleanly on top
    vocab_merge_incremental(docs, side)
    assert {r.token: r.n for r in snapshot_read(spark, side).collect()} == {
        "a": 3,
        "b": 1,
        "z": 2,
    }


def test_dedup_savings_census_custom_id_col(spark):
    """The census must work for any id column name (ADVICE r11:
    connected_components hardcodes 'doc_id' in its output, which broke
    the join for id_col='movie_id')."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "movie_id": [10, 11, 12],
                "body": ["a b c", "a b c", "q r"],
            }
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [10], "doc_b": [11]})
    )
    rows = {
        r.cluster_size: r
        for r in dedup_savings_census(
            docs, edges, id_col="movie_id", text_col="body"
        ).collect()
    }
    assert set(rows) == {1, 2}
    assert (rows[2].docs_removable, rows[2].tokens_removable) == (1, 3)
    assert (rows[1].n_docs, rows[1].tokens_removable) == (1, 0)


def test_dedup_survivors_quality_policy(spark):
    """Hand-built graph: cluster {1,2,3} keeps the HIGHEST-score doc (2),
    pair {4,5} has a score tie -> smallest id (4), {6,7} has one NULL
    score -> the scored doc wins even with larger id, singleton {8}
    survives itself. Survivor sets must partition the corpus (exactly one
    survivor per cluster) and drop counts must reconcile with
    dedup_savings_census."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
        dedup_survivors,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6, 7, 8],
                "text": ["t"] * 8,
                "score": [0.2, 0.9, 0.5, 0.7, 0.7, None, 0.1, None],
            }
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 4, 6], "doc_b": [2, 3, 5, 7]})
    )
    rows = {
        r.doc_id: r
        for r in dedup_survivors(docs, edges, score_col="score").collect()
    }
    assert len(rows) == 8
    assert rows[1].survivor_id == 2 and not rows[1].is_survivor
    assert rows[2].survivor_id == 2 and rows[2].is_survivor
    assert rows[3].survivor_id == 2 and not rows[3].is_survivor
    # score tie -> smallest id
    assert rows[4].survivor_id == 4 and rows[4].is_survivor
    assert rows[5].survivor_id == 4 and not rows[5].is_survivor
    # NULL score loses to any scored doc regardless of id order
    assert rows[6].survivor_id == 7 and not rows[6].is_survivor
    assert rows[7].is_survivor
    # singleton survives itself
    assert rows[8].survivor_id == 8 and rows[8].is_survivor
    # one survivor per cluster: survivor sets partition the corpus
    by_cluster: dict = {}
    for r in rows.values():
        by_cluster.setdefault(r.cluster_rep, []).append(r)
    for members in by_cluster.values():
        assert sum(m.is_survivor for m in members) == 1
        assert len({m.survivor_id for m in members}) == 1
    # drop counts reconcile with the census
    census = dedup_savings_census(docs, edges).collect()
    assert sum(r.docs_removable for r in census) == sum(
        not r.is_survivor for r in rows.values()
    )


def test_dedup_survivors_all_null_scores_fall_back_to_min_id(spark):
    """An all-NULL cluster falls back to the census's keep-smallest-id
    convention."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [3, 9, 12],
                "text": ["x", "x", "x"],
                "score": [None, None, None],
            }
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [3, 9], "doc_b": [9, 12]})
    )
    rows = {
        r.doc_id: r
        for r in dedup_survivors(docs, edges, score_col="score").collect()
    }
    assert all(r.survivor_id == 3 for r in rows.values())
    assert rows[3].is_survivor and not rows[9].is_survivor


def test_dedup_survivors_plan_has_no_corpus_window(spark):
    """The survivor argmax must be ONE aggregate over the label table —
    never a row_number window partitioned by cluster over corpus rows
    (the shape that funnels a mega-cluster through one task's sort)."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import dedup_survivors

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["a", "b"], "score": [0.1, 0.2]}
        )
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1], "doc_b": [2]})
    )
    plan = (
        dedup_survivors(docs, edges, score_col="score")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert "max_by" in plan.lower() or "HashAggregate" in plan


def test_savings_census_minhash_edges_match_exact_when_recall_one(spark):
    """On a corpus where banding recall is provably 1.0 (duplicate groups
    are EXACT copies — identical token sets give identical signatures, so
    they collide in every band) the banded-MinHash edge path must produce
    the SAME savings census as the exact blocked-Jaccard path: the census
    depends only on the connected partition, not which edge generator
    drew it."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
        jaccard_pairs_exact,
        minhash_lsh_pairs,
    )

    texts = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",      # dup of 1
        3: "one two three four five six seven",
        4: "one two three four five six seven",   # dup of 3
        5: "one two three four five six seven",   # dup of 3
        6: "completely different words here now", # singleton
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(texts),
                "source": ["s"] * len(texts),
                "text": list(texts.values()),
            }
        )
    )
    banded = minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    exact = jaccard_pairs_exact(docs, threshold=0.8).select("doc_a", "doc_b")
    c_banded = sorted(
        dedup_savings_census(docs, banded).collect(),
        key=lambda r: r.cluster_size,
    )
    c_exact = sorted(
        dedup_savings_census(docs, exact).collect(),
        key=lambda r: r.cluster_size,
    )
    assert [tuple(r) for r in c_banded] == [tuple(r) for r in c_exact]
    sizes = {r.cluster_size: r.n_clusters for r in c_banded}
    assert sizes == {1: 1, 2: 1, 3: 1}


def test_savings_census_minhash_edge_plan_paid_once(spark, monkeypatch):
    """The banded edge-generation plan (the pipeline's dominant cost) must
    be materialized ONCE, not re-executed per fixpoint iteration (the r11
    localCheckpoint contract in connected_components). Spy on every
    localCheckpoint the census performs: the FIRST is the undirected edge
    union and must contain the minhash generator shape (Generate/explode
    of band signatures); every LATER checkpoint is an iteration's label
    table and must reference the checkpointed RDD instead of re-embedding
    the generator plan."""
    import pandas as pd
    # the concrete class — spies on the pyspark.sql.DataFrame abstract
    # base never fire in Spark 4 (classic.dataframe overrides the method)
    from pyspark.sql.classic.dataframe import DataFrame

    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
        minhash_lsh_pairs,
    )

    # this pins the DISTRIBUTED loop's pay-once checkpoint shape; the r13
    # driver fast path would skip the round checkpoints on 6 docs
    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "source": ["s"] * 6,
                "text": [
                    "alpha beta gamma delta epsilon",
                    "alpha beta gamma delta epsilon",
                    "alpha beta gamma delta epsilon",
                    "alpha beta gamma delta epsilon",
                    "zeta eta theta iota kappa lambda",
                    "zeta eta theta iota kappa lambda",
                ],
            }
        )
    )
    plans: list[str] = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        plans.append(self._jdf.queryExecution().analyzed().toString())
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    edges = minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    rows = dedup_savings_census(docs, edges).collect()
    monkeypatch.undo()

    got = {r.cluster_size: (r.n_clusters, r.docs_removable) for r in rows}
    assert got == {2: (1, 1), 4: (1, 3)}
    # clique {1,2,3,4} + pair {5,6}: 1 edge checkpoint + 1 init + 2 rounds
    assert len(plans) == 4, f"expected 4 localCheckpoints, saw {len(plans)}"
    assert "Generate" in plans[0], (
        "first checkpoint must materialize the banded edge plan"
    )
    for i, p in enumerate(plans[1:], 1):
        assert "Generate" not in p, (
            f"checkpoint {i} re-embeds the edge-generation plan:\n{p[:2000]}"
        )
    # iteration-round plans (after edge + label-init checkpoints) must join
    # against the CHECKPOINTED edge RDD, never the generator plan
    for i, p in enumerate(plans[2:], 2):
        assert "LogicalRDD" in p or "ExistingRDD" in p, p[:2000]


def test_burstiness_from_vocab_matches_corpus_scan(spark, tmp_path):
    """The side-table burstiness census must be BIT-identical to the
    corpus-scan operator (VERDICT r11 #4's done-criterion): merge three
    disjoint batches into the widened (token, n, df, sc2) table, then
    compare `token_burstiness_from_vocab` row-for-row — including the
    rounded burst/vmr doubles and the df=1 NULL vmr lane — against
    `token_burstiness` over the full corpus."""
    import pandas as pd

    from the_movie_database_import_spark.operators.vocab import (
        token_burstiness,
        token_burstiness_from_vocab,
        vocab_merge_incremental,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(9),
                "text": [
                    "a b c a", "a a b", "c d c", "e a", "b b b",
                    "d e f", "a", "f f", "g a b",
                ],
            }
        )
    )
    side = str(tmp_path / "vocab")
    for r in (0, 1, 2):
        vocab_merge_incremental(docs.filter(F.col("doc_id") % 3 == r), side)
    scan = token_burstiness(docs, top_k=50).collect()
    derived = token_burstiness_from_vocab(spark, side, top_k=50).collect()
    assert [tuple(r) for r in derived] == [tuple(r) for r in scan]
    # sanity on the hand model: 'a' appears in 5 docs, 7 times total
    by_tok = {r.token: r for r in derived}
    assert (by_tok["a"].df, by_tok["a"].cf) == (5, 7)
    assert by_tok["g"].vmr is None  # df == 1: variance undefined


def test_minhash_star_intra_edges_connectivity_equivalent(spark):
    """intra_edges='star' (r12): a k-doc exact-duplicate group emits k-1
    spanning-star rows instead of k(k-1)/2 clique rows, cross-set pairs
    are unchanged, and every partition-consumer (census, survivors) gets
    an IDENTICAL answer because the star reaches exactly the clique's
    nodes."""
    import pandas as pd

    from the_movie_database_import_spark.operators.dedup import (
        dedup_savings_census,
        dedup_survivors,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6, 7],
                "source": ["s"] * 7,
                "text": ["alpha beta gamma delta epsilon"] * 4
                + ["zeta eta theta iota kappa"] * 2
                + ["totally different words here"],
                "score": [0.1, 0.9, 0.5, 0.3, None, 0.2, 0.8],
            }
        )
    )
    clique = minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    star = minhash_lsh_pairs(
        docs, threshold=0.8, intra_edges="star"
    ).select("doc_a", "doc_b")
    # 4-clique: 6 -> 3 rows; pair: 1 -> 1; rep is the min id in each group
    assert clique.count() == 7 and star.count() == 4
    star_rows = {(r.doc_a, r.doc_b) for r in star.collect()}
    assert star_rows == {(1, 2), (1, 3), (1, 4), (5, 6)}
    # the partition consumers agree exactly
    c_star = sorted(
        dedup_savings_census(docs, star).collect(), key=lambda r: r.cluster_size
    )
    c_clique = sorted(
        dedup_savings_census(docs, clique).collect(),
        key=lambda r: r.cluster_size,
    )
    assert [tuple(r) for r in c_star] == [tuple(r) for r in c_clique]
    s_star = {
        r.doc_id: (r.cluster_rep, r.survivor_id, r.is_survivor)
        for r in dedup_survivors(docs, star, score_col="score").collect()
    }
    s_clique = {
        r.doc_id: (r.cluster_rep, r.survivor_id, r.is_survivor)
        for r in dedup_survivors(docs, clique, score_col="score").collect()
    }
    assert s_star == s_clique
    # quality policy through the banded path: doc 2 (score 0.9) survives
    # the 4-clique even though doc 1 is the components representative
    assert s_star[1] == (1, 2, False) and s_star[2][2]

    import pytest

    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, threshold=0.8, intra_edges="tree")


def _py_bpe(word_counts: dict, n_merges: int, min_count: int = 2):
    """Reference single-machine BPE (Sennrich et al. get_stats/merge loop)
    with the engine's tie order: count DESC, left ASC, right ASC."""
    vocab = {w: (list(w), c) for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        stats = {}
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] = stats.get((syms[i], syms[i + 1]), 0) + c
        if not stats:
            break
        (left, right), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        for w, (syms, c) in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            vocab[w] = (out, c)
    return merges


def test_bpe_train_matches_python_model(spark):
    """The distributed trainer must reproduce the classic single-machine
    BPE loop exactly — merge-for-merge, count-for-count — on the real
    fixture corpus (the merge table is a pure function of the word
    census)."""
    from collections import Counter

    from the_movie_database_import_spark.operators.bpe import train_bpe

    docs = _docs(spark)
    words = Counter(
        w
        for r in docs.select("text").collect()
        for w in (r.text or "").split(" ")
        if w
    )
    expect = _py_bpe(dict(words), n_merges=8)
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    assert got == expect
    assert len(got) == 8  # the fixture corpus supports at least 8 merges


def test_bpe_train_distributed_loop_matches_python_model(spark, monkeypatch):
    """ADVICE r13: every BPE fixture corpus fits the driver census budget,
    so the python-model parity tests all exercise the driver fast path —
    the DISTRIBUTED training loop (coalesced census view, per-round lazy
    checkpoints, round-1 retirement) shipped untested. Force it by zeroing
    the budget and pin (a) python-model parity and (b) fast-vs-distributed
    merge-table equality — the CC treatment applied to BPE."""
    from collections import Counter

    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.bpe import train_bpe

    docs = _docs(spark)
    words = Counter(
        w
        for r in docs.select("text").collect()
        for w in (r.text or "").split(" ")
        if w
    )
    expect = _py_bpe(dict(words), n_merges=8)
    fast = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)
    dist = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in train_bpe(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    assert dist == expect
    assert dist == fast
    # early stop in the DISTRIBUTED loop too (round-1 cur_id-is-None path)
    tiny = spark.createDataFrame(
        [(1, "ab cd"), (2, "ef gh")], "doc_id long, text string"
    )
    assert train_bpe(tiny, n_merges=4, min_count=2).count() == 0


def test_bpe_merge_fold_is_leftmost_greedy(spark):
    """'aaaa' under merge (a,a) -> [aa, aa]; 'aaa' -> [aa, a]; and a merged
    symbol is immediately eligible as a LEFT operand ('ab'+'c' after (a,b)
    then (ab,c))."""
    from the_movie_database_import_spark.operators.bpe import _apply_merge, _chars

    df = spark.createDataFrame([("aaaa",), ("aaa",), ("abc",)], "w string")
    m1 = df.select(
        "w", _apply_merge(_chars(F.col("w")), "a", "a", "aa").alias("s")
    )
    got = {r.w: r.s for r in m1.collect()}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    m2 = df.select(
        "w",
        _apply_merge(
            _apply_merge(_chars(F.col("w")), "a", "b", "ab"), "ab", "c", "abc"
        ).alias("s"),
    )
    assert {r.w: r.s for r in m2.collect()}["abc"] == ["abc"]


def test_bpe_train_early_stop_below_min_count(spark):
    """No pair reaches min_count=2 on an all-distinct-characters corpus ->
    empty merge table (early stop, not an error)."""
    from the_movie_database_import_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame([(1, "ab cd"), (2, "ef gh")], "doc_id long, text string")
    assert train_bpe(docs, n_merges=4, min_count=2).count() == 0


def test_bloom_prefilter_semi_join_equals_plain_semi(spark):
    """The Bloom probe must be invisible in the result (false positives
    removed by the exact join, false negatives impossible) while actually
    pruning rows BEFORE the shuffle."""
    from the_movie_database_import_spark.operators.skew import (
        bloom_might_contain,
        bloom_prefiltered_semi_join,
        build_bloom_bitmap,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    urgent = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    got = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in bloom_prefiltered_semi_join(
            li, urgent, "l_orderkey", "o_orderkey"
        )
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    expect = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in li.join(
            urgent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
            "l_orderkey",
            "left_semi",
        )
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    assert got == expect and len(got) > 0
    # the prefilter itself must prune: survivors << fact rows (urgent keys
    # are ~20% of orders; 8 KiB bitmap on this key count has a tiny FP rate)
    bitmap = build_bloom_bitmap(urgent, "o_orderkey")
    survivors = li.filter(
        bloom_might_contain(F.col("l_orderkey"), bitmap)
    ).count()
    assert survivors < 0.5 * li.count()
    assert survivors >= len(got)


def test_bloom_bitmap_never_false_negative(spark):
    """Every inserted key must probe true — the Bloom guarantee the exact
    join correctness rests on."""
    from the_movie_database_import_spark.operators.skew import (
        bloom_might_contain,
        build_bloom_bitmap,
    )

    keys = spark.range(0, 5000).select((F.col("id") * 7 + 3).alias("k"))
    bitmap = build_bloom_bitmap(keys, "k")
    misses = keys.filter(~bloom_might_contain(F.col("k"), bitmap)).count()
    assert misses == 0


def test_semantic_dedup_matches_numpy_leader_rule(spark):
    """Given the SAME centroids, the distributed SemDeDup must reproduce
    the numpy brute-force leader rule exactly: drop x iff some earlier-id
    y in x's cluster has cosine(x, y) >= tau."""
    import numpy as np

    from the_movie_database_import_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )
    from the_movie_database_import_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    tau = 0.45
    centroids = train_ivf_centroids(emb, 8)
    got = {
        r.vec_id: (r.cluster_id, r.is_kept)
        for r in semantic_dedup(emb, tau=tau, n_clusters=8, centroids=centroids).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([[float(x) for x in r.embedding] for r in rows])
    cen = np.array(centroids)
    # nearest centroid, ties to the lowest index (array_position semantics)
    d = ((vecs[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
    cl = d.argmin(axis=1)
    norms = np.sqrt((vecs**2).sum(axis=1))
    expect = {}
    order = np.argsort(ids)
    for c in range(len(centroids)):
        members = [i for i in order if cl[i] == c]
        for pos, i in enumerate(members):
            dominated = any(
                (vecs[i] @ vecs[j]) / (norms[i] * norms[j]) >= tau
                for j in members[:pos]
            )
            expect[int(ids[i])] = (c, not dominated)
    assert got == expect
    kept = sum(1 for _, k in got.values() if k)
    assert 0 < kept < len(got)  # tau actually drops something, keeps something


def test_bpe_encode_matches_python_model(spark):
    """End-to-end tokenizer parity: learn merges on the fixture, encode
    with the distributed census path, and compare per-doc BPE token counts
    against a pure-python replay of the same merges."""
    from the_movie_database_import_spark.operators.bpe import (
        bpe_encode_counts,
        train_bpe,
    )

    docs = _docs(spark)
    merges = [
        (r.left, r.right, r.merged)
        for r in train_bpe(docs, n_merges=8).orderBy("merge_rank").collect()
    ]
    got = {
        r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
        for r in bpe_encode_counts(docs, merges).collect()
    }

    def encode(word: str) -> int:
        syms = list(word)
        for left, right, merged in merges:
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            syms = out
        return len(syms)

    expect = {}
    for r in docs.select("doc_id", "text").collect():
        words = [w for w in (r.text or "").split(" ") if w]
        if words:
            expect[r.doc_id] = (len(words), sum(encode(w) for w in words))
    assert got == expect
    # merges must actually compress: strictly fewer BPE tokens than chars
    some = next(iter(got.values()))
    assert some[1] >= some[0]  # at least one symbol per word


def test_iterative_operators_leave_no_pinned_rdds(spark, monkeypatch):
    """localCheckpoint blocks live in the executor block store, not the SQL
    cache — release_caches only reclaims the handles it tracks, so the
    iterative operators must retire their own snapshots (the r13 ext-bench
    interference finding). After connected_components and train_bpe
    complete, at most the operator's single RESULT checkpoint may remain
    pinned; every path, early returns and driver fast paths included,
    leaves no pin once release_caches() has run. retire() frees a
    checkpoint and refuses a view of one."""
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.operators.bpe import (
        bpe_encode_counts,
        train_bpe,
    )
    from the_movie_database_import_spark.operators.dedup import (
        connected_components,
    )
    from the_movie_database_import_spark.operators.graph import pagerank
    from the_movie_database_import_spark.session import (
        persistent_rdd_ids,
        release_caches,
        retire,
    )

    sc = spark.sparkContext
    docs = _docs(spark)

    def assert_released(case):
        release_caches()
        leftover = persistent_rdd_ids(sc) - before
        assert not leftover, f"{case}: pins survived release: {leftover}"

    release_caches()
    before = persistent_rdd_ids(sc)

    # default budget: the driver fast paths and pagerank's empty-graph
    # early return
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(41)], "id long")
    stats = {}
    connected_components(nodes, edges, node_col="id", stats=stats).count()
    assert stats["rounds"] == 0, stats  # the union-find fast path ran
    assert_released("connected_components driver path")

    train_bpe(docs, n_merges=5).count()
    assert_released("train_bpe driver path")

    no_edges = spark.createDataFrame([], "src long, dst long, weight long")
    assert pagerank(no_edges, iters=3).count() == 0
    assert_released("pagerank on an empty edge set")

    merges = [
        (r.left, r.right, r.merged)
        for r in train_bpe(docs, n_merges=5).orderBy("merge_rank").collect()
    ]
    assert len(merges) > 2
    bpe_encode_counts(docs, merges, checkpoint_every=2).count()
    assert_released("bpe_encode_counts chain checkpoints")

    # round-1 contraction finish: the node count fits the driver budget,
    # the edge count does not (two 10-cliques: 20 nodes, 90 edges)
    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 30)
    cliques = spark.createDataFrame(
        [(b + i, b + j) for b in (0, 10) for i in range(10) for j in range(i + 1, 10)],
        "doc_a long, doc_b long",
    )
    twenty = spark.createDataFrame([(i,) for i in range(20)], "id long")
    stats = {}
    got = connected_components(twenty, cliques, node_col="id", stats=stats)
    assert {r.doc_id: r.cluster_rep for r in got.collect()} == {
        i: i - i % 10 for i in range(20)
    }
    assert stats["rounds"] == 1, stats  # finished after one round
    assert_released("connected_components contraction finish")

    # exercise the DISTRIBUTED loop's retirement discipline (the driver
    # fast path would skip the per-round checkpoints on this small graph)
    monkeypatch.setattr(session, "DRIVER_BUDGET_ROWS", 0)

    labels = connected_components(nodes, edges, node_col="id")
    labels.count()
    after_cc = persistent_rdd_ids(sc) - before
    assert len(after_cc) <= 1, f"connected_components leaked pins: {after_cc}"

    # the zero driver budget sends the trainer down its DISTRIBUTED path
    # too (ADVICE r13: every fixture census fits the driver budget, so
    # unpatched this covered only the fast path's absence of checkpoints)
    train_bpe(docs, n_merges=5).count()
    after_bpe = persistent_rdd_ids(sc) - before - after_cc
    assert not after_bpe, f"train_bpe leaked pins: {after_bpe}"

    # pagerank: the weighted-edge and node-universe scaffolding checkpoints
    # must retire at function exit (r13: ew alone pinned ~240 MB per call
    # for the session's lifetime); only the result checkpoint may remain.
    pr_edges = spark.createDataFrame(
        [(i, (i + 1) % 40, 1) for i in range(40)],
        "src long, dst long, weight long",
    )
    pagerank(pr_edges, iters=3).count()
    after_pr = persistent_rdd_ids(sc) - before - after_cc
    assert len(after_pr) <= 1, f"pagerank leaked pins: {after_pr}"

    # and the RESULT checkpoints themselves are reclaimed at the next
    # query boundary, as tracked handles
    assert_released("distributed loops")

    # retire frees a checkpoint through its handle and refuses a view of
    # one, which would otherwise leak the checkpoint it reads
    ckpt = spark.range(10).localCheckpoint()
    pinned = persistent_rdd_ids(sc) - before
    assert pinned
    with pytest.raises(ValueError):
        retire(ckpt.coalesce(1))
    retire(ckpt)
    assert not persistent_rdd_ids(sc) & pinned


def test_setjoin_prefix_hand_case(spark):
    """Prefix-filter completeness + rational-boundary semantics: at
    threshold 0.5 a pair whose Jaccard is EXACTLY 1/2 must be kept (binary
    0.5 is exact here, but the operator compares num/den integers — pin
    the boundary anyway), a sub-threshold pair dropped, disjoint docs
    never paired, and an identical pair scores 1.0."""
    from the_movie_database_import_spark.operators.dedup import (
        set_similarity_join_prefix,
    )

    rows = [
        (1, "a b c d"),
        (2, "a b c d"),      # jaccard 1.0 with doc 1
        (3, "a b e f"),      # jaccard 2/6 = 1/3 with doc 1 -> dropped
        (4, "a b c d e f g h"),  # inter 4, union 8 -> EXACTLY 1/2 with doc 1
        (5, "x y z w"),      # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in set_similarity_join_prefix(df, threshold=0.5).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert got[(1, 4)] == 0.5 and got[(2, 4)] == 0.5
    assert (1, 3) not in got and (2, 3) not in got
    assert all(5 not in pair for pair in got)


def test_setjoin_prefix_equals_brute_force(spark):
    """The prefix-filtered join must EQUAL brute-force all-pairs Jaccard
    on real corpus data (completeness: no false negatives from the prefix
    pruning; exactness: verify removes every false positive)."""
    from the_movie_database_import_spark.operators.dedup import (
        jaccard_pairs_exact,
        set_similarity_join_prefix,
    )

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "_all", F.lit(1)
    )
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in set_similarity_join_prefix(docs, threshold=0.9).collect()
    }
    # brute force via the inverted-index twin with a constant blocking key
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs_exact(
            docs, block_col="_all", threshold=0.9
        ).collect()
    }
    assert got == want and len(got) > 0


def test_c4_line_filters_real_defaults_hand_case(spark):
    """The C4 defaults (Raffel et al. 2020) on English-shaped text: the
    terminal-punctuation rule, the 3-word floor, the Javascript line
    blocklist, the lorem-ipsum and curly-brace page blocklists, the
    min-kept-lines page rule, and in-order reassembly of survivors."""
    from the_movie_database_import_spark.functions.text import c4_line_filters

    good = "this line is fine.\nanother good line!\na third keeper?"
    rows = [
        (1, good),                                     # 3 kept -> page kept
        (2, "short.\nno terminal mark here\nuses javascript badly.\n"
            "ok line survives.\nsecond survivor stays."),
        (3, good + "\nlorem ipsum dolor."),            # page blocklist
        (4, good + "\nhas a { brace."),                # curly-brace page kill
        (5, "nothing ends right\nat all"),             # zero kept lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = c4_line_filters(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["n_lines"].alias("n_lines"),
            c["n_kept_lines"].alias("n_kept_lines"),
            c["kept_text"].alias("kept_text"),
            c["keep_doc"].alias("keep_doc"),
        ).collect()
    }
    assert got[1]["keep_doc"] and got[1]["n_kept_lines"] == 3
    assert got[1]["kept_text"] == good
    # doc 2: 'short.' fails the 3-word floor, the bare line fails the
    # terminal rule, the javascript line is blocklisted -> 2 survivors < 3
    assert got[2]["n_kept_lines"] == 2 and not got[2]["keep_doc"]
    assert got[2]["kept_text"] == "ok line survives.\nsecond survivor stays."
    assert got[3]["n_kept_lines"] == 4 and not got[3]["keep_doc"]
    assert not got[4]["keep_doc"]
    assert got[5]["n_kept_lines"] == 0 and got[5]["kept_text"] == ""


def test_dsir_importance_prefers_target_like_docs(spark):
    """A document made of the target slice's bigrams must score a strictly
    higher importance weight than one made of off-target bigrams — the
    resampling direction DSIR exists for."""
    from the_movie_database_import_spark.operators.vocab import dsir_importance

    target = [(i, "en", "alpha beta gamma delta alpha beta") for i in range(5)]
    other = [(i + 5, "de", "zeta eta theta iota zeta eta") for i in range(5)]
    probe = [
        (100, "xx", "alpha beta gamma delta"),   # target-shaped
        (101, "xx", "zeta eta theta iota"),      # raw-shaped
    ]
    df = spark.createDataFrame(
        target + other + probe, "doc_id long, lang string, text string"
    )
    got = {
        r["doc_id"]: r["avg_logratio_q"]
        for r in dsir_importance(df, F.col("lang") == "en").collect()
    }
    # on a tiny fixture the +1/(C+B) smoothing dominates absolute levels,
    # so pin the RELATIVE ordering (the resampling direction), not signs
    assert got[100] > got[101]
    assert got[100] - got[101] > 100_000  # >0.1 nats/bigram on the 1e-6 grid


def test_dsir_grid_safety():
    """The 1e-6 floor grid is only hash-safe if no distinct smoothed
    bucket log-prob sits near a grid boundary (1-ulp Java-vs-libm ln
    hazard, same contract as unigram NLL). Check every distinct (count,
    total) the census produces at every test SF, for both the target and
    raw lanes."""
    import math

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"""
            WITH t AS (
                SELECT doc_id, lang, string_split(text, ' ') AS toks
                FROM '/root/testdata/{sf}/documents.parquet'
            ),
            bg AS (
                SELECT lang,
                       unnest(list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM t WHERE len(toks) >= 2
            ),
            occ AS (
                SELECT lang,
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(
                                   range(1, least(length(bigram), 64) + 1),
                                   i -> CAST(ascii(substr(bigram, CAST(i AS INTEGER), 1)) AS BIGINT))),
                           (acc, x) -> (acc * 31 + x) % 1000000007) % 256 AS b
                FROM bg
            ),
            census AS (
                SELECT b, COUNT(*) AS c_raw,
                       SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
                FROM occ GROUP BY b
            )
            SELECT DISTINCT c_t AS c, SUM(c_t) OVER () AS total FROM census
            UNION
            SELECT DISTINCT c_raw AS c, SUM(c_raw) OVER () AS total FROM census
            """
        ).fetchall()
        assert rows
        for c, total in rows:
            v = 1e6 * math.log((c + 1) / (total + 256))
            dist = abs(v - round(v))
            assert dist > 1e-6, (sf, c, total, v, dist)


def test_hard_negative_topk_excludes_positives(spark):
    """Every mined negative carries a different label than its anchor, the
    anchor itself never appears, ranks are contiguous from 1, and the top
    negative really is the highest-cosine wrong-label vector (checked
    against an unconstrained top-k)."""
    from the_movie_database_import_spark.operators.similarity import (
        cosine_topk,
        hard_negative_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5)
    rows = hard_negative_topk(emb, anchors, k=10).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        assert r["vec_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    plain = cosine_topk(emb, anchors, k=emb.count()).collect()
    best_wrong = {}
    for r in sorted(plain, key=lambda r: r["rk"]):
        q = r["query_id"]
        if q not in best_wrong and labels[r["vec_id"]] != labels[q]:
            best_wrong[q] = r["vec_id"]
    for q, rs in by_q.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rks) + 1))
        top = min(rs, key=lambda r: r["rk"])
        assert top["vec_id"] == best_wrong[q]


def test_dedup_within_doc_keep_first_order(spark):
    """Keep-first-occurrence in original order at line granularity: the
    production sep='\\n' form, repeated header dropped on its second and
    third appearance, distinct lines untouched, counts reconcile."""
    from the_movie_database_import_spark.functions.text import (
        dedup_lines_within_doc,
    )

    rows = [
        (1, "header\nbody one\nheader\nbody two\nheader"),
        (2, "a\nb\nc"),
        (3, "same\nsame\nsame"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = dedup_lines_within_doc(F.col("text"), sep="\n")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            d["n_lines"].alias("n_lines"),
            d["n_kept_lines"].alias("n_kept_lines"),
            d["cleaned_text"].alias("cleaned_text"),
        ).collect()
    }
    assert got[1]["cleaned_text"] == "header\nbody one\nbody two"
    assert got[1]["n_lines"] == 5 and got[1]["n_kept_lines"] == 3
    assert got[2]["cleaned_text"] == "a\nb\nc"
    assert got[3]["cleaned_text"] == "same" and got[3]["n_kept_lines"] == 1


def test_pagerank_hand_graph_matches_python_model(spark):
    """Weighted 4-node graph vs a python replay of the integer recurrence:
    the distributed join-aggregate loop must floor identically, edge by
    edge, and the result must be invariant under repartitioning (integer
    addition commutes — the whole point of the grid lane)."""
    from the_movie_database_import_spark.operators.graph import pagerank

    edge_rows = [
        (1, 2, 3), (1, 3, 1), (2, 3, 1), (3, 1, 2), (4, 1, 1), (2, 4, 5),
    ]
    edges = spark.createDataFrame(edge_rows, "src long, dst long, weight long")
    SCALE = 10_000_000_000
    nodes = sorted({a for a, _, _ in edge_rows} | {b for _, b, _ in edge_rows})
    n = len(nodes)
    outw: dict = {}
    for a, _, w in edge_rows:
        outw[a] = outw.get(a, 0) + w
    pr = {v: SCALE // n for v in nodes}
    for _ in range(10):
        nxt = {v: (15 * SCALE) // (100 * n) for v in nodes}
        for a, b, w in edge_rows:
            nxt[b] += (85 * pr[a] * w) // (100 * outw[a])
        pr = nxt
    got = {r.node: r.pr_scaled for r in pagerank(edges, iters=10).collect()}
    assert got == pr, (got, pr)
    # total mass <= 1.0 exactly, and the floor leak is tiny
    assert sum(got.values()) <= SCALE
    assert sum(got.values()) >= SCALE - 100 * n
    # repartition invariance: same bits regardless of physical layout
    got2 = {
        r.node: r.pr_scaled
        for r in pagerank(edges.repartition(7), iters=10).collect()
    }
    assert got2 == got


def test_triangle_counts_hand_case_and_canonicalization(spark):
    """K4 plus a pendant: every K4 node sits in C(3,2)=3 triangles, the
    pendant in none (zero-triangle nodes are absent from the census). The
    input deliberately carries duplicates, both orientations, and a
    self-loop — canonicalization must shrug them all off."""
    from the_movie_database_import_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    dirty = k4 + [(1, 2), (2, 1), (3, 3), (4, 5), (5, 4)]
    edges = spark.createDataFrame(dirty, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}, got


def test_triangle_counts_star_graph_has_none(spark):
    """A pure hub (the adversarial case for naive wedge enumeration — deg^2
    wedges at the center) has zero triangles; degree-ordered orientation
    points every edge AT the hub, so the wedge stage emits nothing."""
    from the_movie_database_import_spark.operators.graph import triangle_counts

    star = [(0, i) for i in range(1, 40)]
    edges = spark.createDataFrame(star, "src long, dst long")
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_random_graph_matches_brute_force(spark):
    """Deterministic pseudo-random graph vs an adjacency-set brute force —
    pins that the orientation trick changes the plan, not the answer."""
    import hashlib

    from the_movie_database_import_spark.operators.graph import triangle_counts

    pairs = []
    for i in range(400):
        h = hashlib.md5(f"tri-{i}".encode()).hexdigest()
        a, b = int(h[:4], 16) % 30, int(h[4:8], 16) % 30
        if a != b:
            pairs.append((min(a, b), max(a, b)))
    und = sorted(set(pairs))
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:
                for v in (a, b, c):
                    expect[v] = expect.get(v, 0) + 1
    edges = spark.createDataFrame(und, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == expect, (len(got), len(expect))


def test_cooccurrence_edges_bounded_and_symmetric(spark):
    """Directed co-occurrence emits both orientations with equal weight and
    collapses repeated (key, item) rows first; undirected emits the u < v
    half exactly once."""
    from the_movie_database_import_spark.operators.graph import (
        cooccurrence_edges,
    )

    rows = [
        (10, 1), (10, 1), (10, 2), (10, 3),   # dup (10,1) collapses
        (11, 1), (11, 2),
        (12, 9),                               # singleton key: no pairs
    ]
    df = spark.createDataFrame(rows, "k long, item long")
    d = {(r.src, r.dst): r.weight for r in
         cooccurrence_edges(df, "k", "item", directed=True).collect()}
    assert d[(1, 2)] == 2 and d[(2, 1)] == 2  # co-occur under keys 10 and 11
    assert d[(1, 3)] == 1 and d[(3, 1)] == 1
    assert (9, 9) not in d and not any(9 in p for p in d)
    u = {(r.src, r.dst): r.weight for r in
         cooccurrence_edges(df, "k", "item", directed=False).collect()}
    assert u == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
