"""Deduplication operators for large-scale corpus curation ([ext], north
star): exact, canonical token-set, MinHash+LSH, SimHash, and exact n-gram
Jaccard.

Scale design:
- Exact/canonical dedup is one hash-shuffle on the digest — the only correct
  primitive at 100 TB (never a pairwise compare).
- MinHash+LSH: signatures are computed scan-side with built-in ``xxhash64``
  expressions (no Python), candidates come from banding (shuffle on
  (band, signature) — tiny keys), and only candidates pay the exact-Jaccard
  verification. All-pairs work never happens.
- Exact Jaccard runs on an inverted token index (explode → join on token →
  count), i.e. output ∝ co-occurring pairs, not |docs|².
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import canonical_token_text, distinct_tokens, tokens
from ..session import tracked_cache
from .banding import choose_banding, first_collision_band

MAX_MINHASHES = 32  # signature budget for the (num_hashes, bands) chooser


def choose_minhash_params(
    threshold: float,
    target_recall: float = 0.9,
    max_hashes: int = MAX_MINHASHES,
) -> tuple[int, int]:
    """Pick ``(num_hashes, bands)`` for :func:`minhash_lsh_pairs` from the
    banding recall formula instead of hand-tuning (VERDICT r04 #3) — the
    MinHash twin of :func:`..similarity.choose_lsh_params`.

    Two docs at Jaccard ``j`` agree on one MinHash with probability exactly
    ``j``, so the per-component collision probability IS the threshold;
    everything else (band of ``r`` rows matches with ``j^r``, ``b`` bands
    emit with ``1-(1-j^r)^b``, prefer the most selective geometry that fits
    the budget) is the shared :func:`..banding.choose_banding` math. Without
    this, a caller targeting threshold 0.6 silently runs bands tuned for
    0.8 — model recall 1-(1-0.6^4)^8 = 0.67, far off the 0.9 the fixed
    geometry delivers at its design point."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    return choose_banding(threshold, target_recall, max_hashes)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest (north star `dedup_exact`): one row per
    distinct text, keeping the smallest id; digest group keys keep shuffle
    rows small no matter how long the documents are."""
    return (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


def canonical_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dedup by canonical token-set form — catches reordered/repeated-word
    duplicates exact hashing misses."""
    return (
        docs.select(
            F.col(id_col),
            F.sha2(canonical_token_text(F.col(text_col)), 256).alias("digest"),
        )
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


def _token_hashes(toks: Column) -> Column:
    """Hash each (already-distinct) token to a 64-bit long ONCE; every
    downstream minhash family and the Jaccard verification both reuse these
    longs, so string bytes are hashed exactly one time per document."""
    return F.transform(toks, lambda t: F.xxhash64(t))


def _minhash_signature(tok_hashes: Column, num_hashes: int) -> Column:
    """MinHash signature over pre-hashed tokens: h_i = min over tokens of
    xxhash64(token_hash, i). Re-hashing a fixed-width long with the family
    index as a second column gives ``num_hashes`` independent deterministic
    hash families at long-arithmetic cost (no per-family string traversal).

    The lambda MUST take exactly one parameter: ``transform`` passes the
    element index to two-parameter lambdas, which would silently override a
    ``i=i`` default and collapse every family into one (and make signatures
    token-order-sensitive). Hence the closure factory.
    """

    def family(i: int):
        return lambda h: F.xxhash64(h, F.lit(i))

    sigs = [
        F.array_min(F.transform(tok_hashes, family(i))) for i in range(num_hashes)
    ]
    return F.array(*sigs)


def _minhash_geometry(
    threshold: float,
    num_hashes: int | None,
    bands: int | None,
    target_recall: float,
) -> tuple[int, int]:
    """The validated ``(num_hashes, bands)`` of every MinHash entry point.
    ``threshold`` is checked here even when both geometry params are passed
    and the chooser is skipped: identical-set pairs are emitted without a
    Jaccard filter, so a threshold above 1 would still emit them at 1.0."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if (num_hashes is None) != (bands is None):
        raise ValueError("pass both num_hashes and bands, or neither")
    if num_hashes is None:
        num_hashes, bands = choose_minhash_params(threshold, target_recall)
    if num_hashes % bands != 0:
        raise ValueError(f"bands must divide num_hashes: {num_hashes=} {bands=}")
    return num_hashes, bands


def _token_hash_sets(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(doc_id, th)``: each non-degenerate doc's distinct tokens hashed to
    longs. Degenerate docs (NULL or empty text → NULL/empty token set) can
    never verify at jaccard >= t (array_intersect on NULL → NULL jaccard;
    0/0 → NULL). They must be dropped BEFORE the identical-set collapse —
    xxhash64(sort_array(NULL)) is the seed constant, not NULL, so all
    NULL-text docs would collapse into ONE set and the intra-membership
    join would emit every pair of them at jaccard 1.0."""
    from ..sources.readers import fan_out

    return (
        fan_out(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            distinct_tokens(F.col(text_col)).alias("toks"),
        )
        .select("doc_id", _token_hashes(F.col("toks")).alias("th"))
        .filter(F.col("th").isNotNull() & (F.size("th") > 0))
    )


def _band_signatures(sets: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``sets`` signed: its other columns, then ``n_toks``, ``th`` and the
    ``bands`` array, where band ``b`` hashes MinHash components
    ``b*r .. b*r+r-1`` (``r = num_hashes // bands``)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(
            *[F.col("sig").getItem(b * rows_per_band + r) for r in range(rows_per_band)]
        )
        for b in range(bands)
    ]
    return sets.withColumn("sig", _minhash_signature(F.col("th"), num_hashes)).select(
        *[c for c in sets.columns if c != "th"],
        F.size("th").cast("bigint").alias("n_toks"),
        "th",
        F.array(*band_cols).alias("bands"),
    )


def _banded(sig: DataFrame, bands: int, *keys: str) -> DataFrame:
    """One row per (doc, band) of a signature table, exploded in-map:
    ``keys``, ``n_toks``, ``th``, every band signature as ``b0..`` (for
    :func:`first_collision_band`) and the row's ``band_id``/``band_sig``."""
    return sig.select(
        *keys,
        "n_toks",
        "th",
        *[F.col("bands").getItem(b).alias(f"b{b}") for b in range(bands)],
        F.posexplode("bands").alias("band_id", "band_sig"),
    )


def _verified_pairs(
    a: DataFrame, b: DataFrame, threshold: float, bands: int, key: str, *, ordered: bool
) -> DataFrame:
    """``(ka, kb, jaccard)``: the ``key`` values of every pair of
    :func:`_banded` rows that collide FIRST in some band and whose exact
    hashed-token-set Jaccard is >= ``threshold``. ``ordered`` keeps only
    ``a.doc_id < b.doc_id`` (a self-join); the corpus probe passes its
    broadcast side as ``b`` and keeps both orders.

    Size-compatibility pruning is exact: J(A,B) <= min|.|/max|.|, so J >=
    t forces the smaller token set to hold at least t x the larger one's
    tokens — two long comparisons per matched row, zero recall loss.

    The join's output projection computes the expensive set intersection
    directly from the token arrays riding on both banded sides; the
    monotonically_increasing_id column is a deliberate optimizer barrier:
    without it, Catalyst pushes the jaccard filter below this projection by
    SUBSTITUTING the array_intersect expression into the predicate — it
    lands in the join's post-condition where it is evaluated TWICE per
    candidate (numerator and denominator, no subexpression elimination in
    join conditions) plus once more in the surviving row's Project. A
    nondeterministic projection field blocks PushPredicateThroughNonJoin
    and CollapseProject, so the intersection runs exactly once per
    candidate. The filter must keep a live reference to the barrier
    column, else ColumnPruning deletes it and the projection becomes
    pushable again (pinned by tests/test_plans.py::
    test_lsh_verification_single_intersect on both MinHash queries)."""
    on = (F.col("a.band_id") == F.col("b.band_id")) & (
        F.col("a.band_sig") == F.col("b.band_sig")
    )
    if ordered:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    size_compatible = F.least(F.col("a.n_toks"), F.col("b.n_toks")) >= (
        F.greatest(F.col("a.n_toks"), F.col("b.n_toks")) * F.lit(threshold)
    )
    scored = (
        a.alias("a")
        .join(b.alias("b"), on & first_collision_band(bands) & size_compatible)
        .select(
            F.col(f"a.{key}").alias("ka"),
            F.col(f"b.{key}").alias("kb"),
            F.col("a.n_toks").alias("n_a"),
            F.col("b.n_toks").alias("n_b"),
            F.size(F.array_intersect("a.th", "b.th")).cast("bigint").alias("n_inter"),
            F.monotonically_increasing_id().alias("_pushdown_barrier"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(
            # >= 0 is always true for monotonically_increasing_id but not
            # foldable (isNotNull would constant-fold away: the id is
            # non-nullable, and a folded-out reference lets ColumnPruning
            # delete the barrier and re-enable the pushdown).
            (F.col("jaccard") >= threshold) & (F.col("_pushdown_barrier") >= 0)
        )
        .select("ka", "kb", "jaccard")
    )


def _minhash_self_pairs(
    sets: DataFrame,
    threshold: float,
    bands: int,
    intra_edges: str,
    num_hashes: int | None = None,
) -> DataFrame:
    """All verified near-dup pairs ``(doc_a, doc_b, jaccard)`` within one
    doc set: identical-set collapse → banded self-join of the
    representatives → :func:`_verified_pairs` → membership expansion.

    ``sets`` is either :func:`_token_hash_sets` output, whose
    representatives are signed here with ``num_hashes`` (so only one doc
    per distinct set pays for a signature), or a
    :func:`minhash_band_signatures` table (``num_hashes=None``), whose
    ``n_toks`` and ``bands`` the representatives carry through. Both give
    bit-identical pairs: setkey, band hashes, candidate enumeration and the
    jaccard doubles are all pure functions of ``th``."""
    # Set identity = hash of the sorted token-hash array (order-insensitive).
    # Used three times (reps, two expansion probes) — cache it.
    sets = tracked_cache(
        sets.withColumn("setkey", F.xxhash64(F.sort_array(F.col("th"))))
    )
    members = sets.select("doc_id", "setkey")
    # every member of a set has identical th (as a set) and hence identical
    # signature/band arrays; min_by picks the smallest-id member's copies
    reps = sets.groupBy("setkey").agg(
        F.min("doc_id").alias("doc_id"),
        *[
            F.min_by(c, "doc_id").alias(c)
            for c in sets.columns
            if c not in ("doc_id", "setkey")
        ],
    )
    signed = reps
    if num_hashes is not None:
        # Both sides of the self-join instantiate this sub-plan; Catalyst
        # does not share identical subtrees across join branches, so
        # without caching the signatures would be computed twice and
        # tokenization four times. (At cluster scale: persist to
        # MEMORY_AND_DISK or materialize signatures to a table first.)
        signed = tracked_cache(_band_signatures(reps, num_hashes, bands))
    banded = _banded(signed, bands, "doc_id", "setkey")
    rep_pairs = _verified_pairs(
        banded, banded, threshold, bands, "setkey", ordered=True
    )
    # Expand rep-level pairs back to doc-level: every (member of ka,
    # member of kb) pair inherits the verified jaccard; least/greatest
    # restores the doc_a < doc_b normalization (set groups are disjoint, so
    # each unordered pair appears exactly once).
    cross = (
        rep_pairs.join(
            members.withColumnsRenamed({"doc_id": "da", "setkey": "ka"}), "ka"
        )
        .join(members.withColumnsRenamed({"doc_id": "db", "setkey": "kb"}), "kb")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    # Identical-set pairs: always collide (same signature in every band) and
    # verify at exactly 1.0 — generated directly from the membership table.
    if intra_edges == "star":
        # spanning star per set: rep = the group's min id (already computed
        # in `reps`), one (rep, member) row per non-rep member — linear in
        # group size, connectivity-equivalent to the clique; doc_a < doc_b
        # holds because rep is the minimum
        intra = (
            members.join(
                reps.select("setkey", F.col("doc_id").alias("_rep")), "setkey"
            )
            .filter(F.col("doc_id") != F.col("_rep"))
            .select(
                F.col("_rep").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    else:
        intra = (
            members.alias("x")
            .join(
                members.alias("y"),
                (F.col("x.setkey") == F.col("y.setkey"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    return cross.unionByName(intra)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    target_recall: float = 0.95,
    intra_edges: str = "clique",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verification.

    ``intra_edges`` selects how IDENTICAL-set groups emit their pairs
    (r12): ``"clique"`` (default — every pair within the group, the
    complete evidence form) or ``"star"`` (each non-representative member
    paired with the group's smallest id only). A k-doc exact-duplicate
    group emits k·(k-1)/2 clique rows but k-1 star rows — on a
    template-flooded 100 TB corpus with 10k-copy clusters that is 50M vs
    10k rows PER CLUSTER, and the star is CONNECTIVITY-EQUIVALENT: any
    consumer that only needs the connected partition (components, the
    savings census, survivor selection, leakage-safe splits) gets an
    identical answer (pinned in tests), because a spanning star reaches
    exactly the clique's nodes. Cross-set (genuinely near-dup) pairs are
    unaffected. Use clique when the pair LIST itself is the deliverable.

    Pipeline: tokenize → hash tokens to longs → MinHash signature →
    ``bands`` band signatures → explode → shuffle on (band, signature) →
    same-bucket pairs, emitted only in the FIRST band where the two docs
    collide → verify with exact token-set Jaccard ≥ threshold.

    ``(num_hashes, bands)`` default to :func:`choose_minhash_params`
    (threshold, ``target_recall``) — the banding geometry tracks the
    caller's threshold instead of silently running one tuned for 0.8.
    Passing both overrides the chooser (they must divide evenly).

    ``target_recall`` defaults to 0.95, not the chooser's 0.9 (ADVICE r05
    #4): the chooser maximizes selectivity subject only to the target, so a
    0.9 target derives (30, 6) ≈ 0.91 recall at j=threshold — a silent ~7%
    true-pair loss vs the pre-chooser hand-tuned (32, 8) ≈ 0.985 geometry
    this default replaced. 0.95 derives (24, 6) ≈ 0.96 at j=0.8: within a
    few points of the historical behavior and CHEAPER (24 hashes vs 32).
    Callers wanting the old geometry exactly can pass num_hashes=32,
    bands=8; verification is exact either way, so recall (never precision)
    is the only thing the geometry moves.

    First-collision-band emission is the scale-critical trick: a true
    near-dup pair collides in most of its bands, so a naive banded self-join
    emits each pair O(bands) times and then needs a huge ``distinct()``
    shuffle to dedupe (measured 23M pre-distinct rows for 8M unique pairs on
    the sf0.1 corpus). Carrying each doc's full band-signature array into the
    join and keeping a match only when no earlier band also matched emits
    every candidate pair exactly once — no distinct, no second shuffle.

    Verification is FUSED into the banded join: each banded row carries its
    doc's hashed-token array, so the exact Jaccard is computed in the join's
    output projection — no separate joins to re-attach token sets. On a
    duplicate-heavy corpus the candidate stream is quadratic in cluster size
    (sf0.1: 3.0M pairs from 5k docs) while the banded rows are linear
    (|docs| x bands), so shuffling token arrays with the banded rows is
    strictly cheaper than two extra shuffle joins over the pair stream
    (measured 3.7x end-to-end). For a mostly-unique corpus the balance can
    flip (rare candidates, re-join touches few rows) — but a linear-size cost
    is the safe default at 100 TB, where a quadratic blowup is fatal and the
    8x token-array duplication is bounded by the band count.

    Verification intersects the hashed-token long arrays (not the string
    arrays): 64-bit per-token hashes make a false token equality ~2^-64, so
    the Jaccard is exact in practice at long-comparison cost. Precision is
    exact; banding only affects recall (tested against brute force in
    tests/test_extensions.py).

    IDENTICAL-SET COLLAPSE: docs with the same token set have identical
    signatures, identical band buckets, and Jaccard exactly 1.0 with each
    other — so the banded join and verification run on one REPRESENTATIVE
    per distinct token set, and doc-level pairs are re-expanded afterwards
    (rep-pair ⋈ membership ⋈ membership for cross-set pairs, membership
    self-join for the within-set jaccard=1.0 pairs). On a duplicate-heavy
    corpus this is a pure win with bit-identical output: sf0.1 collapses
    5 000 docs to 3 935 sets and 3.0M verified doc-pairs to 852k rep-pairs
    — 3.5x less join matching and intersection work — while the expansion
    joins key on the tiny set-id and fan out to exactly the final output
    rows. At 100 TB the same collapse bounds mega-cluster bucket blowup:
    a k-doc exact-duplicate group costs k banded rows and k² join matches
    without it, 1 row with it.
    """
    num_hashes, bands = _minhash_geometry(threshold, num_hashes, bands, target_recall)
    if intra_edges not in ("clique", "star"):
        raise ValueError(f"intra_edges must be 'clique' or 'star': {intra_edges!r}")
    sets = _token_hash_sets(docs, text_col, id_col)
    return _minhash_self_pairs(sets, threshold, bands, intra_edges, num_hashes)


def minhash_band_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    target_recall: float = 0.95,
) -> DataFrame:
    """The band-signature side table an incremental NEAR-dup pipeline
    maintains (VERDICT r10 #2 — the MinHash member of the incremental
    maintenance family: ``delta.incremental_dedup`` keeps exact digests,
    :func:`substring_gram_digests` keeps span grams, this keeps LSH band
    signatures): one row per non-degenerate document —
    ``(doc_id, n_toks, th, bands)`` where ``th`` is the hashed token set
    (the exact-Jaccard verification state) and ``bands`` the band-signature
    array. After each batch, append the KEPT new docs' rows (this function
    over the kept docs); store as parquet or via the snapshot protocol.

    Geometry ``(num_hashes, bands)`` is part of the TABLE's identity and
    must be held constant for its lifetime — it defaults from
    ``(threshold, target_recall)`` exactly like :func:`minhash_lsh_pairs`,
    and signatures are deterministic (seeded xxhash64 families), so the
    maintained table is bit-identical to a full rebuild over the same
    kept docs. ``th`` rides along because near-dup needs VERIFICATION
    state, not just existence (the one structural difference from the
    digest/gram side tables): band collisions are probabilistic
    candidates, and the exact Jaccard that turns them into verdicts needs
    both token sets — storing them here (longs, one per distinct token)
    is what lets the probe never touch corpus TEXT."""
    num_hashes, bands = _minhash_geometry(threshold, num_hashes, bands, target_recall)
    return _band_signatures(_token_hash_sets(docs, text_col, id_col), num_hashes, bands)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    target_recall: float = 0.95,
    include_within_batch: bool = True,
) -> DataFrame:
    """Incremental MinHash near-dup (VERDICT r10 #2): verified
    near-duplicate pairs between a NEW batch and the existing corpus —
    the corpus represented ONLY by its :func:`minhash_band_signatures`
    side table, its text never read, never re-signatured — plus, by
    default, the within-batch pairs (bit-identical to
    :func:`minhash_lsh_pairs` over the new docs alone: both run
    :func:`_minhash_self_pairs`, here on the batch's ALREADY-COMPUTED
    signatures, so the delta is tokenized and signatured exactly once —
    ADVICE r11). This is the daily-crawl maintenance form of near-dup
    dedup: before r11 a user had to rerun ``minhash_lsh_pairs``
    over old+new every day (re-tokenizing and re-hashing the whole
    corpus); now only the delta is signatured.

    COMPOSITION IDENTITY (pinned in tests): the output equals
    ``minhash_lsh_pairs(old ∪ new)`` restricted to pairs touching a new
    doc. Band signatures are pure deterministic functions of the token
    set and geometry, so stored and recomputed signatures agree;
    first-collision-band emission and the batch operator's identical-set
    collapse change how candidates are ENUMERATED, never which pairs
    collide in some band; and verification is the same exact
    hashed-token-set Jaccard expression on both paths, so even the
    jaccard doubles are bit-identical. Geometry params must equal the
    side table's (same contract as the gram side table's ``k``).

    NO-CORPUS-SHUFFLE contract (pinned): both sides explode their band
    arrays IN-MAP; the NEW batch's banded rows are the side the planner
    broadcasts, so the corpus-scale side streams through a
    BroadcastHashJoin with zero Exchange above its scan — at 100 TB
    corpus / 1 TB daily delta, only delta-derived rows move. A delta past
    ``autoBroadcastJoinThreshold`` (estimated, or observed under AQE)
    plans a shuffle join of delta-banded vs corpus-banded rows
    (signatures and token-hash arrays, still never corpus text).
    Within-batch pairs (when enabled) shuffle only new-batch rows by
    construction.

    Keep-first convention: this operator returns PAIRS (the family's
    evidence form — `connected_components` / keep-policies compose on
    top); "corpus copy wins" is then the caller dropping new docs that
    appear in any pair, exactly how ``dup_of_existing`` composes for the
    exact family."""
    num_hashes, bands = _minhash_geometry(threshold, num_hashes, bands, target_recall)
    new_sig = minhash_band_signatures(
        new_docs, text_col, id_col, threshold, num_hashes, bands
    )
    if include_within_batch:
        # the delta is signatured ONCE (ADVICE r11): the cached signature
        # table feeds both the corpus probe below and the within-batch
        # enumeration — before this cache the within-batch leg re-tokenized
        # and re-signatured the whole batch inside minhash_lsh_pairs
        new_sig = tracked_cache(new_sig)
    probe = _banded(new_sig, bands, "doc_id")
    corpus = _banded(seen_bands, bands, "doc_id")
    cross = _verified_pairs(
        corpus, probe, threshold, bands, "doc_id", ordered=False
    ).select(
        F.least("ka", "kb").alias("doc_a"),
        F.greatest("ka", "kb").alias("doc_b"),
        "jaccard",
    )
    if not include_within_batch:
        return cross
    return cross.unionByName(_minhash_self_pairs(new_sig, threshold, bands, "clique"))


def _driver_component_min(node_ids, edge_pairs) -> dict:
    """Classic path-compressed union-find over a bounded id universe:
    returns ``{id: component-minimum id}`` — the same labeling the
    distributed min-label fixpoint converges to. Shared by the driver
    fast path (ids = node ids) and the r14 post-round-1 contraction
    finish (ids = round-1 label values). Edges with an endpoint outside
    the universe are skipped, mirroring the distributed loop's inner-join
    semantics."""
    parent: dict = {}
    for x in node_ids:
        parent[x] = x

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_pairs:
        if u not in parent or v not in parent:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return {x: comp_min[find(x)] for x in parent}


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 64,
    shortcut: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation WITH pointer
    jumping (r13): every node's label converges to the smallest node id
    reachable from it — the cluster representative a dedup pipeline keeps.

    This is the canonical iterative-algorithm shape on Spark (the reference
    has nothing like it — SURVEY.md §2.1): each round is one shuffle-join +
    aggregate, the loop runs until a fixpoint. Plain neighbor-min
    propagation needs graph-DIAMETER rounds — fine for dense near-dup
    clusters (2-4 rounds) but O(n) on a chain-shaped component (syndication
    rings, quote chains, VERDICT r12 #4). The ``shortcut`` step composes
    each node's label with its LABEL'S label every round
    (``label <- min(label, min_neighbor_label, label(label))``) — the
    Shiloach–Vishkin shortcutting / pointer-jumping idea, which makes the
    distance-to-representative roughly double per round and bounds the loop
    at O(log n) rounds on ANY topology (chain stress test:
    tests/test_extensions.py::test_connected_components_chain_log_rounds).
    We use shortcutting rather than Kiveris et al.'s alternating
    large-star/small-star rounds (MR-CC, "Connected Components in MapReduce
    and Beyond") for the same O(log n) bound because it slots into this
    loop as ONE extra ids-only self-join while preserving the engine's
    Observation-fused exact convergence check (n_changed rides the
    materializing action — star-contraction needs a separate edge-set
    equality probe per round, a second full job). The final labeling is
    BIT-IDENTICAL to the plain fixpoint (component-min is the unique
    fixpoint of both; pinned by
    tests/test_extensions.py::test_connected_components_shortcut_identical),
    so every census/survivor/split consumer inherits the bound for free.
    ``stats`` (optional) receives ``{"rounds": k}`` for round-count tests.
    `localCheckpoint` truncates lineage each round so the
    plan doesn't grow with iterations — at cluster scale this would be a
    persisted table per round (or GraphFrames/Pregel), same loop body.

    Convergence is read from an ``Observation`` metric folded into the SAME
    action that materializes the round's labels (VERDICT r04 #4): the old
    and new label ride the iteration plan side by side, a ``CollectMetrics``
    node sums the diffs, and ``localCheckpoint`` both materializes and
    measures in one pass. A separate per-round ``count()`` would be a second
    full job over the labels table — at 100 TB that doubles the number of
    jobs for a scalar the iteration already knows.

    Lifetime contract (ADVICE r13): every checkpoint is retired here through
    its own DataFrame handle (``session.retire``), except, when the
    distributed loop runs, the final labels checkpoint the returned frame
    reads: that handle goes to ``session.track_result_checkpoint`` and is
    retired at the next registry-query boundary
    (``session.release_caches``). Consume the result before that boundary;
    re-executing it later fails fast (freed blocks cannot be recomputed
    from truncated lineage).
    """
    from pyspark.sql import Observation

    from ..session import (
        DRIVER_BUDGET_ROWS,
        maybe_broadcast,
        retire,
        sized_partitions,
        track_result_checkpoint,
    )

    sc = nodes.sparkSession.sparkContext

    # The edge table is consumed by EVERY iteration's join — without a
    # materialization each round would re-execute the caller's whole edge
    # GENERATION plan (a banded-MinHash or inverted-index join, the
    # pipeline's dominant cost: measured 40.5 s → 18.6 s at sf1 for the
    # savings census over minhash edges, r11). localCheckpoint cuts the
    # lineage once; the pair list is the SMALL derived table (pairs, not
    # corpus rows), the same bounded-state argument as the labels table.
    #
    # r13 opt: checkpoint the DIRECTED pairs and mirror them as a narrow
    # union over the checkpoint blocks — the old code checkpointed the
    # mirrored union, whose two branches each re-executed the caller's
    # edge-generation plan (measured 25.7 CPU-s for the savings-census
    # materialization at sf0.1, half of it the second LSH execution). The
    # narrow coalesce keeps round task counts at cluster parallelism
    # instead of 2x shuffle partitions.
    obs_edges = Observation()
    ek = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .coalesce(sc.defaultParallelism)
        # row count rides the SAME materializing action (the engine's
        # standing Observation pattern) — no separate count job
        .observe(obs_edges, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint()
    )
    n_edges = int(obs_edges.get["n_edges"] or 0)
    # Size-derived view of the edge blocks for the per-round scans: a small
    # pair list otherwise pays 2x defaultParallelism near-empty tasks per
    # round.
    ekv = ek.coalesce(sized_partitions(sc, n_edges))
    undirected = ekv.unionByName(
        ekv.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    obs_nodes = Observation()
    # ckpt: the labels checkpoint the loop reads; labels may be a view of it
    labels = ckpt = (
        nodes.select(F.col(node_col).alias("u"))
        .distinct()
        .withColumn("label", F.col("u"))
        .observe(obs_nodes, F.count(F.lit(1)).alias("n_nodes"))
        .localCheckpoint()
    )
    # Label/neighbor-min/pointer tables are all ≤ n rows: within the
    # broadcast budget every per-round join plans as a BroadcastHashJoin
    # and the edge table is NEVER shuffled in a round (the checkpointed
    # LogicalRDD has no stats, so the planner could not discover this —
    # guide §3.1); over budget the joins fall back unhinted to the shuffle
    # plan. n is a bounded driver scalar observed off the init action.
    n = int(obs_nodes.get["n_nodes"] or 0)
    if n <= DRIVER_BUDGET_ROWS and n_edges <= DRIVER_BUDGET_ROWS:
        # Driver fast path (r13 opt — the BPE trainer's budget-guard
        # precedent, guide §1/§5 trade): a graph that fits one scan task's
        # row budget pays more in per-round job ROUND-TRIPS (~40-100 ms
        # each; entity resolution's 590-node tenant graph spent ~95% of
        # its wall on orchestration) than a bounded collect + classic
        # union-find costs. The result is IDENTICAL by definition: the
        # component minimum is what the distributed fixpoint converges to,
        # and union-find computes the same component partition. Both
        # tables are already materialized checkpoints, so the two collects
        # are block reads, and the budget bounds driver memory at ~1 MB.
        # Over budget, the round loop below keeps everything distributed.
        edge_rows = ekv.collect()
        node_rows = labels.collect()
        final = _driver_component_min(
            (r["u"] for r in node_rows),
            ((r["u"], r["v"]) for r in edge_rows),
        )
        out = [(u, final[u], u == final[u]) for u in sorted(final)]
        if stats is not None:
            stats["rounds"] = 0
        retire(ek, ckpt)
        id_type = dict(labels.dtypes)["u"]
        return nodes.sparkSession.createDataFrame(
            sc.parallelize(out, 1),
            f"doc_id {id_type}, cluster_rep {id_type}, is_kept boolean",
        )
    nparts = sized_partitions(sc, n)
    labels = ckpt.coalesce(nparts)
    rounds = 0
    for _ in range(max_iters):
        if rounds == 1 and n <= DRIVER_BUDGET_ROWS:
            # r14 contraction finish (guide §1.2 "the distributed
            # algorithm"): round-1 labels collapse every node into its
            # neighborhood minimum, so on duplicate-dense graphs (the
            # minhash/savings shape: huge cliques, few cross-links) the
            # DISTINCT cross-cluster label pairs form a graph orders of
            # magnitude smaller than the edge table. If that contracted
            # graph fits the same driver budget as the fast path above, a
            # bounded collect + union-find finishes the fixpoint in one
            # pass instead of diameter/log-n more 8-CPU-s rounds.
            # Result-identical: every original edge (u, v) maps to the
            # contracted edge (label(u), label(v)) with both labels in u's
            # component, and label(min of component) == that min, so the
            # component minimum over label values equals the component
            # minimum over nodes — the unique fixpoint the loop converges
            # to. Over budget, the probe abandons after ONE bounded
            # collect (the LIMIT stops the fetch, the distinct bounds the
            # shuffle) and the distributed rounds continue unchanged —
            # the 100 TB posture is the same class as the existing
            # budget-guarded fast paths. Only attempted when the LABEL
            # table itself is driver-sized (n <= budget), which also
            # bounds the final collect.
            lab_u = labels.select(
                F.col("u").alias("_cu"), F.col("label").alias("lu")
            )
            lab_v = labels.select(
                F.col("u").alias("_cv"), F.col("label").alias("lv")
            )
            contracted = (
                ekv.join(maybe_broadcast(lab_u, n_rows=n), ekv["u"] == F.col("_cu"))
                .join(maybe_broadcast(lab_v, n_rows=n), ekv["v"] == F.col("_cv"))
                .where(F.col("lu") != F.col("lv"))
                .select("lu", "lv")
                .distinct()
            )
            probe = contracted.limit(DRIVER_BUDGET_ROWS + 1).collect()
            if len(probe) <= DRIVER_BUDGET_ROWS:
                node_rows = labels.collect()  # n <= budget rows (~1 MB)
                final = _driver_component_min(
                    (r["label"] for r in node_rows),
                    ((p["lu"], p["lv"]) for p in probe),
                )
                out = [
                    (r["u"], final[r["label"]], r["u"] == final[r["label"]])
                    for r in sorted(node_rows, key=lambda r: r["u"])
                ]
                if stats is not None:
                    stats["rounds"] = rounds
                retire(ek, ckpt)
                id_type = dict(labels.dtypes)["u"]
                return nodes.sparkSession.createDataFrame(
                    sc.parallelize(out, 1),
                    f"doc_id {id_type}, cluster_rep {id_type}, is_kept boolean",
                )
        neighbor_min = (
            undirected.join(
                maybe_broadcast(
                    labels.withColumnsRenamed({"u": "v2", "label": "vlabel"}),
                    n_rows=n,
                ),
                F.col("v") == F.col("v2"),
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nb_min"))
        )
        stepped = labels.join(maybe_broadcast(neighbor_min, n_rows=n), "u", "left")
        if shortcut and rounds > 0:
            # Pointer jumping: every label VALUE is itself a node id in
            # `labels` (labels start as ids and only ever take neighbor /
            # pointer label values), so label(label(u)) is one ids-only
            # equi-join of the labels table with itself. least(NULL-safe:
            # nb_min/_plabel may be NULL for isolated nodes) keeps the
            # monotone-decreasing invariant, so convergence and the final
            # component-min fixpoint are unchanged — the shortcut only
            # SHORTENS the path the minimum travels. Round 1 skips it
            # (rounds == 0): the pointer graph is still the identity, so
            # label(label(u)) == label(u) and the join would be a pure
            # cost — this keeps the dense-cluster common case (2-3 rounds
            # total) at almost exactly the pre-shortcut price.
            ptr = maybe_broadcast(
                labels.select(
                    F.col("u").alias("_p"), F.col("label").alias("_plabel")
                ),
                n_rows=n,
            )
            stepped = stepped.join(ptr, F.col("label") == F.col("_p"), "left")
            new_label = F.least("label", "nb_min", "_plabel")
        else:
            new_label = F.least("label", "nb_min")
        obs = Observation()
        new_labels = (
            stepped.select(
                "u",
                F.col("label").alias("_old_label"),
                new_label.alias("label"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("_old_label"), 1).otherwise(0)
                ).alias("n_changed"),
            )
            .drop("_old_label")
            .coalesce(nparts)  # size-derived: labels are n rows, not 32 blocks
            .localCheckpoint()  # eager: one job materializes AND measures
        )
        rounds += 1
        # Retire the PREVIOUS round's labels checkpoint: this round's holds
        # everything further rounds read. Without this, a k-round fixpoint
        # leaves k+2 pinned RDDs per query in the block store, accumulating
        # across a registry sweep (the r13 ext-bench interference finding,
        # same class as the BPE checkpoint leak).
        retire(ckpt)
        labels = ckpt = new_labels
        if not obs.get["n_changed"]:  # None (empty graph) or 0: fixpoint
            break
    if stats is not None:
        stats["rounds"] = rounds
    # the returned labeling reads ONLY the final labels checkpoint — the
    # edge table is dead weight past the fixpoint; the labels checkpoint
    # itself retires at the next query boundary as a tracked handle
    retire(ek)
    track_result_checkpoint(ckpt)
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        (F.col("u") == F.col("label")).alias("is_kept"),
    )


def jaccard_pairs_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    threshold: float = 0.8,
    max_token_df: int | None = None,
    tokens_fn: "Callable[[Column], Column]" = distinct_tokens,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing a blocking key, via an
    inverted token index (the SQL-oracle-checkable twin of the LSH path).

    ``tokens_fn`` selects the set elements: ``distinct_tokens`` (unigram
    sets, the default) or ``word_shingles(…, n)`` for n-gram Jaccard —
    shingles preserve local word ORDER, so reordered-but-same-vocabulary
    documents score low where unigram Jaccard scores 1.0.

    The join fans out on (block, token) — at 100 TB the blocking key bounds
    the candidate space the way LSH buckets do. ``max_token_df`` is the skew
    guard: a token appearing in d documents of a block contributes d² join
    rows, so one stop-word-grade token dominates the whole shuffle. Dropping
    tokens with document frequency above the cap bounds per-token fan-out at
    ``max_token_df²``. The default (None) keeps the operator exact (and
    DuckDB-oracle-checkable); with a cap, scores for pairs that shared a
    dropped token UNDERCOUNT the intersection while the denominator keeps
    full set sizes, so capped Jaccard is a lower bound — capping never
    creates false positives, only (bounded) false negatives on pairs whose
    similarity rides on ubiquitous tokens.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("block"),
        tokens_fn(F.col(text_col)).alias("toks"),
    )
    sizes = base.select("doc_id", F.size("toks").cast("bigint").alias("n_toks"))
    inv = base.select("doc_id", "block", F.explode("toks").alias("tok"))
    if max_token_df is not None:
        hot = (
            inv.groupBy("block", "tok")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_token_df)
            .select("block", "tok")
        )
        # Unhinted anti-join: the hot-token list is normally tiny (only
        # tokens above the cap), but its size is data-dependent — the
        # planner plans a shuffle anti-join on a corpus where most tokens
        # are hot instead of blowing the broadcast.
        inv = inv.join(hot, ["block", "tok"], "left_anti")
    inter = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_toks": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_toks": "n_b"}), "doc_b")
        .withColumn(
            "jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_paragraphs(
    docs: DataFrame,
    sep: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    joiner: str | None = None,
) -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (north star `dedup_paragraphs`): split
    every document on ``sep``, keep exactly ONE global occurrence of each
    distinct paragraph (the first, by (id, position)), and reassemble each
    document from its surviving paragraphs — the C4/RefinedWeb line-dedup
    recipe that strips boilerplate (nav bars, cookie banners, license
    headers) repeated across billions of pages.

    Returns ``(id_col, text_col, n_paras, n_kept)`` with the rebuilt text
    (``joiner`` between surviving paragraphs; defaults to ``sep``).
    Documents whose every paragraph loses (pure boilerplate) drop out;
    NULL-text documents drop (no paragraphs). Empty-string paragraphs
    dedup like any other value — engines agree because both split "" into
    one empty paragraph.

    Scale design — document text is shuffled exactly ONCE, on the unique
    document id:

    1. paragraphs explode in-row and immediately reduce to (sha256, id,
       pos) triples — the text itself is hashed at the scan and pruned;
    2. the global winner per paragraph is ``min(struct(id, pos))`` by HASH
       AGGREGATE, not a window: a boilerplate paragraph repeated 10^9
       times map-side-combines to one row per input partition, where a
       ``row_number`` window would shuffle all 10^9 copies into a single
       hot partition (the skew hazard this shape exists to avoid);
    3. the winner (id, pos) pairs re-key by id (small shuffle) and join
       the ORIGINAL one-row-per-doc table, so the rebuild — filter the
       re-split array by surviving positions, array_join — runs in-row on
       the doc side of a uniform unique-key join.

    The oracle twin joins on paragraph TEXT where this joins on sha256 —
    identical verdicts (digest equality == byte equality).
    """
    import re as _re

    joiner = sep if joiner is None else joiner
    sep_rx = _re.escape(sep)  # F.split takes a Java regex; match literally
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("_pos", "_para"),
    )
    winners = (
        paras.select(F.sha2(F.col("_para"), 256).alias("_h"), id_col, "_pos")
        .groupBy("_h")
        .agg(F.min(F.struct(id_col, "_pos")).alias("_w"))
        .select(F.col(f"_w.{id_col}").alias(id_col), F.col("_w._pos").alias("_pos"))
    )
    keep_sets = winners.groupBy(id_col).agg(
        F.collect_list("_pos").alias("_keep_pos")
    )
    split_again = F.split(F.col(text_col), sep_rx)

    # Rebuild from the SORTED winner positions by O(1) element_at indexing
    # on a paragraph array bound once as a lambda variable — NOT a
    # per-paragraph array_contains(_keep_pos) scan, which is
    # O(paragraphs x |kept|) per document (quadratic for a
    # many-paragraph doc; the r08 span-rebuild finding). _keep_pos holds
    # distinct positions, so the ascending sort reproduces the original
    # paragraph order exactly as the positional filter did.
    def _rebuilt(parts: Column) -> Column:
        return F.array_join(
            F.transform(
                F.array_sort(F.col("_keep_pos")),
                lambda p: F.element_at(parts, p + 1),
            ),
            joiner,
        )

    return docs.join(keep_sets, id_col).select(
        F.col(id_col),
        F.element_at(F.transform(F.array(split_again), _rebuilt), 1).alias(text_col),
        F.size(split_again).cast("bigint").alias("n_paras"),
        F.size(F.col("_keep_pos")).cast("bigint").alias("n_kept"),
    )


def boilerplate_census(
    docs: DataFrame,
    sep: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document paragraph frequency census (north star
    `boilerplate_census`): which paragraphs repeat across ``min_docs`` or
    more documents, and how often — the evidence table a curator reads
    before deciding paragraph-dedup policy (is that repeated span a
    license header to strip, or a legitimate quotation to keep?), and the
    blocklist input for targeted boilerplate removal.

    Returns ``(paragraph, n_docs, n_occurrences)``. One explode + one
    hash aggregate: the paragraph string is the group key, so a
    boilerplate span repeated 10^9 times map-side-combines to one row per
    input partition before the shuffle — the shuffle carries (paragraph,
    partial counts) with cardinality bounded by DISTINCT paragraphs, and
    the ``min_docs`` filter prunes the long unique tail from the output.
    """
    import re as _re

    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1: {min_docs}")
    paras = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), _re.escape(sep))).alias("paragraph"),
    )
    return (
        paras.groupBy("paragraph")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_substring_spans(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact SUBSTRING-span dedup (north star generalizing
    `dedup_paragraphs` below paragraph alignment): remove every token
    span of length >= ``k`` whose text appears earlier elsewhere in the
    corpus — the Lee et al. ExactSubstr recipe ("Deduplicating Training
    Data Makes Language Models Better"), catching duplication that is NOT
    paragraph-aligned (quoted passages, syndicated article bodies with
    local edits, template prose mid-paragraph).

    Token-level contract via rolling k-gram cover: a duplicated span of
    length L >= k contains exactly L-k+1 duplicated k-grams whose
    occurrences cover all L tokens, so "drop every token covered by a
    LOSING k-gram occurrence" removes precisely the maximal duplicated
    spans (and, within one document, the repeats of any k-token
    repetition loop — self-duplication loses to its own first
    occurrence). The global winner per gram is the lexicographically
    smallest (id, pos) occurrence; winners keep their tokens, so one copy
    of every duplicated span survives corpus-wide, in the same
    first-occurrence convention the paragraph operator uses.

    Returns ``(id_col, text_col, n_tokens, n_kept)`` — text rebuilt from
    surviving tokens (single-space joined), ``n_kept`` surviving token
    count. Documents shorter than ``k`` tokens pass through whole;
    NULL-text documents are dropped (no tokens, same as
    `dedup_paragraphs`).

    Scale design — document text shuffles exactly once, on the unique id:

    1. k-grams hash IN-ROW at the scan (sequence + slice + array_join +
       sha256 — whole-stage codegen); the exploded stream carries
       (digest, id, pos) only, never gram text;
    2. winner per digest = map-side-combined ``min(struct(id, pos))``
       HASH AGGREGATE — a boilerplate gram repeated 10^9 times combines
       to one row per input partition; never a window over the digest
       (AQE splits skewed JOIN partitions, not window partitions);
    3. losing occurrences come from the digest-keyed winner join (skew
       AQE-splittable), then collapse per document in ONE aggregate:
       ``collect_list(pos)`` of losing gram starts, expanded to the
       covered-position set IN-ROW (sequence + flatten + distinct) — no
       k-fold row explosion, list size bounded by the document's own
       token count;
    4. the rebuild — filter the re-split token array by uncovered
       positions, array_join — runs in-row on the doc side of a uniform
       unique-key left join.

    The oracle twin joins on gram TEXT where this joins on sha256 —
    identical verdicts (digest equality == byte equality).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (k=1 would drop every repeated token): {k}")
    occ, base = _span_gram_occurrences(docs, k, text_col, id_col)
    winners = (
        occ.groupBy("_h")
        .agg(F.min(F.struct(id_col, "_pos")).alias("_w"))
        .select(
            "_h",
            F.col(f"_w.{id_col}").alias("_win_id"),
            F.col("_w._pos").alias("_win_pos"),
        )
    )
    lose = occ.join(winners, "_h").filter(
        ~((F.col(id_col) == F.col("_win_id")) & (F.col("_pos") == F.col("_win_pos")))
    )
    return _rebuild_without_covered(base, lose, k, text_col, id_col)


def span_gram_digests(text: Column, k: int) -> Column:
    """Rolling k-token-gram sha256 digests of ``text``, one per start
    position, as a pure-codegen array expression (sequence + slice +
    array_join + sha2). Documents shorter than ``k`` tokens yield an
    EMPTY array (the ``when`` guard matters: ``sequence(0, negative)``
    would generate a DESCENDING sequence, not an empty one — the
    word_shingles trap).

    The token array is bound ONCE as a lambda variable
    (``transform(array(split(text)), toks -> ...)``): non-lambda
    subexpressions inside a higher-order-function lambda are re-evaluated
    PER ELEMENT, so referencing ``split(text)`` directly in the per-position
    lambda would re-split the whole document for every gram start —
    O(L^2) characters for an L-token doc, ~2.5x10^9 for one 50k-token
    document. A named lambda variable is an O(1) attribute read, making
    gram assembly O(L x k) total (pinned by
    tests/test_extensions.py::test_span_rebuild_long_doc_linear)."""

    def _grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.sha2(F.array_join(F.slice(toks, i + 1, k), " "), 256),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(F.split(text, " ")), _grams), 1)


def _span_gram_occurrences(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(occurrence stream, non-null-text base) shared by the span-dedup
    family. The hashed occurrence stream (id, _pos, _h) feeds TWO
    consumers in every caller (winner aggregate + the losing-occurrence
    join) and its upstream is the dominant cost of the operator (k-token
    gram assembly + sha256 per position) — cache it so the grams hash
    once (measured -35% CPU at sf0.1). Cache budget at 100 TB: ~(2x
    digest + pos) per token of corpus; past executor memory prefer
    MEMORY_AND_DISK or drop the cache and recompute (the paragraph
    operator's choice — its per-unit hashing is an order of magnitude
    cheaper)."""
    base = docs.filter(F.col(text_col).isNotNull())
    occ = tracked_cache(
        base.select(
            F.col(id_col),
            F.posexplode(span_gram_digests(F.col(text_col), k)).alias("_pos", "_h"),
        )
    )
    return occ, base


def _rebuild_without_covered(
    base: DataFrame, lose: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Collapse losing gram-start positions per document (ONE aggregate;
    the k-fold expansion to covered token positions happens IN-ROW via
    sequence + flatten + distinct, never as a row explosion) and rebuild
    each document from its uncovered tokens on a unique-id left join.

    The uncovered-position set is computed with ``array_except(all
    positions, covered)`` — Spark's ArrayExcept builds a hash set of the
    right operand, so the rebuild is O(L + |covered|) per document, NOT
    the O(L x |covered|) a per-token ``array_contains(covered, i)`` scan
    would cost (quadratic for a long mostly-duplicated document — a
    100k-token 90%-covered doc would be ~10^10 comparisons in one row;
    pinned by tests/test_extensions.py::test_span_rebuild_long_doc_linear).
    ``array_except`` preserves the left operand's order and the position
    sequence is ascending + distinct, so token order survives; covered
    positions always lie inside [0, L-1] (gram starts <= L-k expanded by
    k-1), so ``n_kept = L - |covered|`` exactly as before. Tokens are
    then recovered by O(1) array indexing (``element_at`` on a token
    array bound ONCE as a lambda variable — referencing ``split(text)``
    inside the per-position lambda would re-split the document per kept
    token, the same O(L^2) trap :func:`span_gram_digests` documents)."""
    covered = (
        lose.groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_lose_pos"))
        .select(
            id_col,
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "_lose_pos", lambda p: F.sequence(p, p + F.lit(k - 1))
                    )
                )
            ).alias("_covered"),
        )
    )
    toks = F.split(F.col(text_col), " ")
    cov = F.coalesce(F.col("_covered"), F.array().cast("array<int>"))

    def _rebuilt(t: Column) -> Column:
        kept_pos = F.array_except(F.sequence(F.lit(0), F.size(t) - 1), cov)
        return F.array_join(
            F.transform(kept_pos, lambda p: F.element_at(t, p + 1)), " "
        )

    return base.join(covered, id_col, "left").select(
        F.col(id_col),
        F.element_at(F.transform(F.array(toks), _rebuilt), 1).alias(text_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(cov)).cast("bigint").alias("n_kept"),
    )


def substring_gram_digests(
    docs: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The gram-digest side table an incremental span-dedup pipeline
    maintains: one row per DISTINCT k-gram digest in ``docs`` —
    append :func:`dedup_substring_spans_incremental`'s kept output's
    digests after each batch (the span twin of the exact-dedup digest
    side table ``operators/delta.incremental_dedup`` consumes). Store it
    bucketed on ``gram_digest`` (``sources.writers.write_bucketed``) and
    the daily probe join is co-located — no shuffle of the corpus-scale
    side table at maintenance time."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(span_gram_digests(F.col(text_col), k)).alias("gram_digest")
        )
        .distinct()
    )


def dedup_substring_spans_incremental(
    new_docs: DataFrame,
    seen_grams: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "gram_digest",
    dedup_seen: bool = False,
) -> DataFrame:
    """Incremental ExactSubstr span dedup: strip from NEW documents every
    >= ``k``-token span that already exists in the CORPUS (represented
    only by its gram-digest side table — corpus text is never touched)
    or earlier in the batch — the daily-maintenance form of
    :func:`dedup_substring_spans`, completing the incremental family
    (``delta.incremental_dedup`` is the whole-document analogue).

    Cover rule: a batch gram occurrence is a loser when its digest is in
    ``seen_grams`` (the corpus copy always wins — same convention as
    ``incremental_dedup``'s ``dup_of_existing``) OR when it is not the
    batch-first (id, pos) occurrence of its digest. Tokens covered by any
    losing occurrence are removed; output shape matches
    :func:`dedup_substring_spans`.

    Scale: the probe join is digest-keyed — at 100 TB corpus / 1 TB daily
    delta, the delta's gram digests join the side table; keep the side
    table BUCKETED on the digest and the corpus-scale side never
    shuffles at maintenance time (the bucketed-join strategy
    ``sources/writers.write_bucketed`` provides). The within-batch winner
    is the same map-side-combined min(struct) aggregate as the full
    operator.

    ``seen_grams`` is TRUSTED to be digest-distinct — it is exactly what
    :func:`substring_gram_digests` emits (already ``.distinct()``) and
    what the maintenance loop appends batch-disjoint digests to. A
    defensive re-distinct here would be a corpus-scale aggregation at
    every maintenance run, defeating the bucketed no-shuffle contract
    (and duplicate digests would not even change verdicts — the probe's
    left join only asks existence, though dup rows WOULD fan out the
    joined occurrence stream). Set ``dedup_seen=True`` only for an
    untrusted ad-hoc side table; the bucketed-plan pin
    (tests/test_plans.py::test_spans_incremental_bucketed_side_no_exchange)
    asserts the default path adds no Exchange above the side-table scan.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (k=1 would drop every repeated token): {k}")
    occ, base = _span_gram_occurrences(new_docs, k, text_col, id_col)
    seen = seen_grams.select(F.col(digest_col).alias("_seen_h"))
    if dedup_seen:
        seen = seen.distinct()
    flagged = occ.join(seen, occ["_h"] == seen["_seen_h"], "left").withColumn(
        "_hit", F.col("_seen_h").isNotNull()
    )
    winners = (
        occ.groupBy("_h")
        .agg(F.min(F.struct(id_col, "_pos")).alias("_w"))
        .select(
            "_h",
            F.col(f"_w.{id_col}").alias("_win_id"),
            F.col("_w._pos").alias("_win_pos"),
        )
    )
    lose = (
        flagged.join(winners, "_h")
        .filter(
            F.col("_hit")
            | ~(
                (F.col(id_col) == F.col("_win_id"))
                & (F.col("_pos") == F.col("_win_pos"))
            )
        )
    )
    return _rebuild_without_covered(base, lose, k, text_col, id_col)


# Weight grid for tfidf_cosine_pairs: tf·idf floor-quantizes onto this
# grid ONCE; numerator terms, norms, and their sums are then exact 64-bit
# integer arithmetic (w_q ≲ 1e7 for tf·idf ≲ 10 → term products ≲ 1e14,
# sums over a vocab-bounded token set stay far under 2^63).
TFIDF_QUANT = 1_000_000


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    threshold: float = 0.9,
    max_token_df: int | None = None,
    max_df_frac: float | None = None,
    min_df_floor: int = 0,
) -> DataFrame:
    """Sparse tf-idf cosine similarity over pairs sharing a blocking key —
    the LEXICAL-weighted member of the near-dup family, between
    :func:`jaccard_pairs_exact` (set overlap, no weights) and the
    embedding-cosine operators (dense, learned): re-weighted bag-of-words
    catches templated/boilerplate-heavy pairs that unigram Jaccard
    over-scores and embedding models never saw.

    Numeric lane — ONE grid, then pure integers: ``w_q = floor(QUANT ·
    tf · ln(N/df))`` is the only quantization (ln is the cross-engine-soft
    op, so the floor grid absorbs its 1-ulp wobble; grid-boundary margins
    pinned in tests like the BM25 discipline). Every numerator term
    ``w_qa·w_qb`` and norm term ``w_q²`` is then an EXACT 64-bit product,
    their sums are order-independent integer aggregates, and the final
    ``num / (sqrt(na)·sqrt(nb))`` is a correctly-rounded IEEE tree on
    exact integers — identical on both engines, so the threshold compare
    can never flip.

    Scale shape (the jaccard_pairs_exact envelope): the inverted index
    fans out on (block, token); the blocking key bounds candidates the
    way LSH buckets do, and ``max_token_df`` is the same skew guard — a
    token in d docs of a block contributes d² join rows, so capping
    drops stop-word-grade tokens. Dropped tokens leave the vocabulary
    ENTIRELY — numerator terms AND norm mass — exactly sklearn's
    ``max_df`` semantics: the guarded score is the true cosine on the
    reduced vocabulary, which can sit on either side of the unguarded
    score (a pair sharing a stop token loses numerator mass, but each
    doc's norm shrinks too); pairs riding ONLY on dropped tokens
    disappear. Norms are one per-doc aggregate over surviving tokens;
    the corpus-size scalar is a one-row broadcast (data never moves
    for statistics).

    ``max_df_frac`` is the RELATIVE stop-token guard (VERDICT r10 #1 —
    the sklearn ``max_df`` / CCNet convention): a token present in more
    than ``max(min_df_floor, max_df_frac · n_block)`` of its block's
    documents is a stop token and leaves the index entirely — the same
    anti-join (and the same reduced-vocabulary score semantics) as the
    absolute cap; surviving tokens' weights are unchanged.
    The absolute cap alone cannot bound SUB-cap density: a corpus whose
    every token sits just under ``max_token_df`` still pays Σdf² join
    rows that grow quadratically with block size (measured 18.8× wall
    for 10× rows on the stop-word-dense synthetic corpus at sf1.0),
    while real similarity indexes drop by relative document frequency —
    a token in 10% of a million-doc block is boilerplate, not signal.
    ``min_df_floor`` keeps small blocks honest (frac·n of a 25-doc block
    would drop ordinary vocabulary). Both guard compares are EXACT
    integer cross-multiplications (the heavy_hitters discipline):
    ``max_df_frac`` snaps to the nearest rational num/den (den ≤ 1e6 —
    exact for any decimal literal) and the cutoff test is ``bdf·den >
    num·n_block`` — no double product whose rounding could flip a
    boundary token on one engine only.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(block_col).alias("block"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc_id", "block", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df_tbl, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "block",
            "tok",
            F.floor(
                F.lit(float(TFIDF_QUANT))
                * (
                    F.col("tf")
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                )
            ).alias("wq"),
        )
    )
    if max_token_df is not None or max_df_frac is not None:
        bdf = w.groupBy("block", "tok").agg(F.count(F.lit(1)).alias("bdf"))
        conds = []
        if max_token_df is not None:
            conds.append(F.col("bdf") > int(max_token_df))
        if max_df_frac is not None:
            from fractions import Fraction

            fr = Fraction(max_df_frac).limit_denominator(1_000_000)
            bn = docs.groupBy(F.col(block_col).alias("block")).agg(
                F.count(F.lit(1)).alias("_bn")
            )
            bdf = bdf.join(bn, "block")
            # bdf > floor(num*n/den)  ⇔  bdf*den > num*n  (positive ints)
            conds.append(
                (F.col("bdf") > int(min_df_floor))
                & (
                    F.col("bdf") * F.lit(fr.denominator)
                    > F.lit(fr.numerator) * F.col("_bn")
                )
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        hot = bdf.filter(cond).select("block", "tok")
        w = w.join(hot, ["block", "tok"], "left_anti")
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("nq"))
    # Explicit partition count on the posting-list join key (r13 opt, guide
    # §2.4): the join's OUTPUT is quadratic in posting-list length (Σdf²
    # rows) while its INPUT is small, so AQE's byte-proportional coalescing
    # shrank the exchange to ~2 tasks and ran the pair enumeration near-
    # serially (measured 5.9 of 6.8 s wall on 2 of 32 cores at sf0.1). A
    # user-specified partition count is exempt from coalescing, and hashing
    # on (block, tok) satisfies BOTH sides of the self-join with one reused
    # exchange — the same fix as the triangle census' wedge stage.
    sc = docs.sparkSession.sparkContext
    wj = w.repartition(sc.defaultParallelism, "block", "tok")
    num = (
        wj.alias("a")
        .join(
            wj.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.wq") * F.col("b.wq")).alias("num"))
    )
    cos = (
        F.col("num").cast("double")
        / (
            F.sqrt(F.col("na").cast("double"))
            * F.sqrt(F.col("nb").cast("double"))
        )
    )
    return (
        num.join(
            norms.withColumnsRenamed({"doc_id": "doc_a", "nq": "na"}), "doc_a"
        )
        .join(norms.withColumnsRenamed({"doc_id": "doc_b", "nq": "nb"}), "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def source_syndication_census(
    docs: DataFrame,
    sep: str = " the ",
    min_chars: int = 20,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-SOURCE content-overlap matrix ([ext] crawl forensics): for
    every pair of sources, how many distinct substantive paragraphs
    appear in BOTH — the "who mirrors whom" census that decides whether
    two feeds are independent corpora or the same syndicated wire twice
    (double-weighting a mirrored pair silently doubles its content's
    training weight even after doc-level dedup, because mirrors edit
    around the shared body). Paragraphs shorter than ``min_chars``
    don't count (ubiquitous short fragments are noise, not syndication).

    Scale design — the naive formulation self-joins the paragraph
    stream on text (d² rows for a boilerplate span in d docs, the exact
    blow-up `dedup_paragraphs` documents); this never joins text at
    all:

    1. one explode + length filter, then ONE digest-keyed aggregate
       ``collect_set(source)`` — set size bounded by |sources|, however
       many million documents carry the span;
    2. source pairs generate IN-ROW from each digest's sorted source
       set (|sources|² worst case per row, constants at census scale);
    3. the final pair census is a map-side-combined count over
       |sources|² keys — constant-size shuffle at any corpus scale.

    Returns ``(source_a, source_b, n_shared_paragraphs)`` with
    source_a < source_b, counting each distinct shared paragraph once
    per pair. The oracle joins paragraph TEXT (digest equality == byte
    equality, the span-dedup family's argument).
    """
    import re as _re

    paras = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(source_col),
            F.explode(F.split(F.col(text_col), _re.escape(sep))).alias("_p"),
        )
        .filter(F.length("_p") >= min_chars)
        .select(source_col, F.sha2("_p", 256).alias("_h"))
    )
    shared = (
        paras.groupBy("_h")
        .agg(F.array_sort(F.collect_set(source_col)).alias("_srcs"))
        .filter(F.size("_srcs") >= 2)
    )
    pairs = shared.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("_srcs") - 1),
                    lambda i: F.transform(
                        F.slice(F.col("_srcs"), i + 1, F.size("_srcs") - i),
                        lambda b: F.struct(
                            F.element_at(F.col("_srcs"), i).alias("a"),
                            b.alias("b"),
                        ),
                    ),
                )
            )
        ).alias("_pair")
    )
    return pairs.groupBy(
        F.col("_pair.a").alias("source_a"), F.col("_pair.b").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared_paragraphs"))


def char_trigrams(text: Column) -> Column:
    """Distinct character 3-grams of ``text`` as a pure-codegen array
    expression (the pg_trgm unit). The text is bound ONCE as a lambda
    variable — the `span_gram_digests` discipline: a non-lambda
    subexpression inside a higher-order lambda re-evaluates per element,
    which for substring extraction would re-read the string per
    position."""

    def _tris(t: Column) -> Column:
        return F.when(
            F.length(t) >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - 2),
                    lambda i: F.substring(t, i, F.lit(3)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(text), _tris), 1)


def build_trigram_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The (trigram, doc) inverted index a substring-search service
    maintains beside the corpus — pg_trgm's model: store it once
    (bucketed on ``trigram`` for a co-located probe), amortize it over
    every subsequent LIKE query. One explode + in-row distinct; row
    count is bounded by corpus chars (each position contributes at most
    one gram, deduped per doc)."""
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(char_trigrams(F.col(text_col))).alias("trigram"),
    )


def substring_search(
    docs: DataFrame,
    index: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trigram-index-accelerated substring search (``LIKE '%pattern%'``
    without the full-corpus byte scan — the pg_trgm recipe): a document
    can contain ``pattern`` only if it contains EVERY trigram of the
    pattern, so the index prunes to candidates first and the exact
    ``contains`` verification touches only those documents. EXACTLY
    equal to the naive predicate by construction (the trigram condition
    is necessary, verification is sufficient) — the oracle runs the
    naive scan.

    Returns matching ``(id_col, text_col)`` rows.

    Scale shape: the naive formulation reads every byte of a 100 TB
    corpus per query; this probes |pattern| - 2 index lists (broadcast
    the tiny pattern-trigram set; with the index stored bucketed on
    trigram the probe is also co-located), map-side-combines the
    per-doc hit count, keeps docs where hits == n_pattern_trigrams (set
    semantics: the index is per-doc distinct), and semi-joins the doc
    table on ids for verification — corpus text is read ONLY for
    candidate rows, via a join that pushes candidate ids toward the
    scan. Patterns shorter than 3 chars have no trigram to prune on and
    fall back to the naive scan (correct, just unaccelerated).
    """
    if len(pattern) < 3:
        return docs.filter(
            F.col(text_col).isNotNull() & F.col(text_col).contains(pattern)
        ).select(id_col, text_col)
    tris = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    hits = (
        index.filter(F.col("trigram").isin(tris))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") == len(tris))
        .select(id_col)
    )
    return (
        docs.join(hits, id_col, "left_semi")
        .filter(F.col(text_col).contains(pattern))
        .select(id_col, text_col)
    )


def dedup_savings_census(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup ROI census ([ext] r11 — the number a curation budget decision
    actually reads): given a near-dup pair graph, how much of the corpus
    is REMOVABLE by keeping one document per duplicate cluster, broken
    down by cluster size. A pair list says "these documents look alike";
    this says "running the dedup buys back 14% of the token budget, and
    the mass sits in 2-doc mirror pairs, not mega-clusters" — which
    decides both whether to run it and which cluster policy to use
    (keep-first is fine for pairs; a 10k-doc template cluster wants a
    quality-ranked survivor instead).

    Per cluster-size s over the connected components of ``edges`` (the
    smallest-id keep convention of `connected_components`):
    ``n_clusters``, ``n_docs`` (= s · n_clusters), ``docs_removable``
    (non-survivors), ``tokens_total``, ``tokens_removable``. Singleton
    clusters (docs in no pair) appear as s = 1 with zero removable —
    keeping them makes the census self-normalizing (the rows sum to the
    whole corpus, so "removable share" is one division away).

    All counts are exact integers — oracle-hash-exact even though the
    component labels come from an iterative fixpoint, because the census
    depends only on the PARTITION the fixpoint converges to, never on
    iteration order.

    Scale shape: the pair graph is the caller's cost (exact blocked
    Jaccard here for the oracle twin; banded MinHash at 100 TB — any
    edge list with the same semantics drops in); label propagation is
    bounded by cluster diameter; the census aggregates the DOC-level
    label table twice (doc→cluster, cluster→size), both map-side
    combinable, and the output is bounded by the distinct cluster
    sizes — a handful of rows at any corpus scale."""
    # connected_components always names its node column ``doc_id``; rename
    # to the caller's id so the join below resolves for any id_col
    # (ADVICE r11 — id_col='movie_id' raised unresolved-column before).
    comp = connected_components(
        docs.select(F.col(id_col)), edges, node_col=id_col
    ).withColumnRenamed("doc_id", id_col)
    ntok = docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(), F.size(tokens(F.col(text_col)))
        )
        .otherwise(0)
        .cast("bigint")
        .alias("_nt"),
    )
    per_cluster = (
        comp.join(ntok, id_col)
        .groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_csize"),
            F.sum("_nt").cast("bigint").alias("_toks"),
            F.sum(F.when(~F.col("is_kept"), F.col("_nt")).otherwise(0))
            .cast("bigint")
            .alias("_rem_toks"),
            F.sum(F.when(~F.col("is_kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("_rem_docs"),
        )
    )
    return (
        per_cluster.groupBy(F.col("_csize").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("_csize").cast("bigint").alias("n_docs"),
            F.sum("_rem_docs").cast("bigint").alias("docs_removable"),
            F.sum("_toks").cast("bigint").alias("tokens_total"),
            F.sum("_rem_toks").cast("bigint").alias("tokens_removable"),
        )
        .orderBy("cluster_size")
    )


def dedup_survivors(
    docs: DataFrame,
    edges: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked survivor selection per near-dup cluster ([ext] r12 —
    the cluster POLICY `dedup_savings_census` motivates: keep-smallest-id
    is fine for mirror pairs, but a 10k-doc template cluster should keep
    its BEST document, not its numerically-first one). Composes the
    connected-components labels with any per-doc ``score_col`` the caller
    provides (the blended `quality_metrics` score in the registry query;
    a model score, length prior, or recency rank drop in identically) and
    keeps, per cluster, the highest-scoring doc with a DETERMINISTIC
    tiebreak on smallest id. NULL scores rank below every non-NULL score
    (a doc with no score never beats a scored doc; an all-NULL cluster
    falls back to pure smallest-id — the census's keep convention).

    Returns one row per input doc: ``(id_col, cluster_rep, survivor_id,
    is_survivor)`` — a keep/drop labeling of the WHOLE corpus under the
    quality policy (singletons survive themselves), so
    ``filter(is_survivor)`` IS the deduplicated corpus and the drop
    counts reconcile exactly with `dedup_savings_census`
    (sum over clusters of (size-1) — pinned in tests).

    Scale shape: NO window over corpus rows (a row_number partitioned by
    cluster ordered by score is the shape that funnels a mega-cluster's
    rows through one task's sort). Instead: label propagation (bounded by
    cluster diameter), one hash join doc→label, ONE max_by aggregate over
    the label table (map-side combinable — each partition keeps a single
    running (score, -id) champion per cluster), and one join of the
    survivor table back onto the labels. The survivor side is NOT
    broadcast: singletons make #clusters ≈ #docs on a lightly-duplicated
    corpus, so it is corpus-scale in the worst case — the join shuffles
    on cluster_rep, and the aggregate already produced the survivor side
    hash-partitioned by that key, so only the label side moves. The
    argmax rides a struct ordering ``(score_not_null, score, -id)`` so
    the tiebreak is total and engine-independent."""
    # connected_components names its node column doc_id; realign to the
    # caller's id (same contract note as dedup_savings_census).
    comp = connected_components(
        docs.select(F.col(id_col)), edges, node_col=id_col
    ).withColumnRenamed("doc_id", id_col)
    scored = comp.join(
        docs.select(F.col(id_col), F.col(score_col).cast("double").alias("_s")),
        id_col,
    )
    # max_by over a struct: non-NULL beats NULL, then higher score, then
    # smaller id (negated so max picks the minimum). One aggregate, no window.
    champion_key = F.struct(
        F.col("_s").isNotNull().alias("has_s"),
        F.coalesce(F.col("_s"), F.lit(float("-inf"))).alias("s"),
        (-F.col(id_col)).alias("neg_id"),
    )
    survivors = scored.groupBy("cluster_rep").agg(
        F.max_by(F.col(id_col), champion_key).alias("survivor_id")
    )
    return (
        scored.join(survivors, "cluster_rep")
        .select(
            F.col(id_col),
            "cluster_rep",
            "survivor_id",
            (F.col(id_col) == F.col("survivor_id")).alias("is_survivor"),
        )
    )


def set_similarity_join_prefix(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_fn: Callable[[Column], Column] = distinct_tokens,
) -> DataFrame:
    """Prefix-filtered EXACT set-similarity self-join (SSJoin/PPJoin family
    — Chaudhuri et al. 2006, Xiao et al. 2011): all document pairs with
    token-set Jaccard >= ``threshold``, WITHOUT a user-supplied blocking
    key and WITHOUT an all-pairs construct.

    Where :func:`jaccard_pairs_exact` bounds its candidate space with an
    application blocking column (source, label, ...), this operator derives
    the pruning from the threshold itself — the classic answer when no
    natural blocking key exists:

    1. **Global rarest-first token order.** One document-frequency census
       (vocab-bounded, broadcast), then each document's token set is sorted
       by ``(df ASC, token ASC)`` — a single global total order.
    2. **Prefix filter.** A pair with Jaccard >= t must share at least one
       token within the first ``p = n - ceil(t*n) + 1`` tokens of BOTH
       sorted sets (any fewer shared prefix tokens caps the possible
       overlap below the threshold's requirement) — so candidate
       generation explodes ONLY the prefix (~(1-t) of each set, the
       globally RAREST tokens), and the equi-join fan-out per token is
       bounded by its prefix document frequency, not its raw df: the
       stop-word-grade tokens that blow up a naive token join never enter
       a large set's prefix.
    3. **Length + positional filters in the join condition.** ``t*|x| <=
       |y|`` and the PPJoin positional bound (a shared token at positions
       (px, py) caps the overlap at ``1 + min(|x|-px, |y|-py)``, which
       must reach ``ceil(t/(1+t)*(|x|+|y|))``) both prune BEFORE the
       candidate shuffle — exact integer arithmetic, and completeness
       holds because each qualifying pair's FIRST common token passes.
    4. **In-row verify.** Candidates join back to the full token arrays
       and the exact intersection is ``size(array_intersect(...))`` —
       in-row JVM codegen, no second token-level shuffle.

    Exactness: the threshold is compared as a RATIONAL ``num/den``
    (``Fraction(threshold).limit_denominator(1e6)``) in both the length
    filter and the final Jaccard test, so boundary pairs (e.g. 4/5 vs
    t=0.8 in binary floating point) keep/drop identically to the
    brute-force DuckDB oracle — prefix filtering admits no false
    negatives, verification removes all false positives, and the result
    provably EQUALS all-pairs Jaccard.

    CONTRACT: ``tokens_fn`` must return DUPLICATE-FREE arrays (a set, as
    the built-in ``distinct_tokens`` and ``word_shingles`` do). The
    identical-set collapse scores intra-group pairs at exactly 1.0 and
    Jaccard itself is a SET measure; a tokens_fn emitting duplicates
    would make ``size(array_intersect(...))`` disagree with the set
    semantics on the uncollapsed path too (ADVICE r13 — documented
    rather than paying ``array_distinct`` on every row for callers that
    already supply sets).

    At 100 TB: the df census is one map-side-combinable aggregate; the
    sort is per-row; the candidate shuffle carries (prefix token, id,
    size) triples — ~(1-t) of the token volume, concentrated on rare
    tokens; the pair-distinct and verify shuffles are candidate-bounded.
    Returns ``(doc_a, doc_b, jaccard)``.
    """
    from fractions import Fraction

    from ..session import maybe_broadcast, tracked_cache

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    fr = Fraction(threshold).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator

    # Cached: the token arrays feed the inverted index once and the verify
    # joins twice, and the prefix table is BOTH sides of the candidate
    # self-join — without the cache each action would re-scan and re-split
    # the corpus 3-4x (measured 48 s -> materialize-once at sf0.1).
    all_base = tracked_cache(
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_fn(F.col(text_col)).alias("toks")
        )
    )
    # Identical-set collapse (r13 opt, guide §2.3 "shuffle keys instead of
    # payloads" — the minhash path's clique collapse, applied here): docs
    # with the SAME token set always share the same candidates, the same
    # verification outcome, and the same jaccard double, so the join runs
    # once per DISTINCT set (the group rep, min doc_id) and member pairs
    # are expanded afterwards — intra-group pairs are exactly jaccard 1.0
    # (n/n on identical arrays), inter-group pairs inherit the rep pair's
    # double verbatim. On the dup-dense bench corpus this cut verified
    # candidates 2.97M -> 0.70M (measured) for two cheap expansion joins.
    # Degenerate docs (NULL/empty token sets) are excluded up front — they
    # generate no prefix rows in the uncollapsed join either, so they can
    # never reach the output on either path.
    canon = all_base.filter(
        F.col("toks").isNotNull() & (F.size("toks") > 0)
    ).select(
        "doc_id",
        F.sha2(F.concat_ws("\x01", F.sort_array("toks")), 256).alias("_g"),
    )
    group_reps = tracked_cache(
        canon.groupBy("_g").agg(F.min("doc_id").alias("gid"))
    )
    # One count over the cached rep table sizes EVERY broadcast below:
    # |group_reps| <= |members| <= |docs|, and an upper bound is all the
    # budget guard needs, so no further count probes run.
    n_groups = group_reps.count()
    members = tracked_cache(
        canon.join(maybe_broadcast(group_reps, n_rows=n_groups), "_g").select(
            "gid", "doc_id"
        )
    )
    n_members = members.count()
    base = all_base.join(
        maybe_broadcast(
            group_reps.select(F.col("gid").alias("doc_id")), n_rows=n_groups
        ),
        "doc_id",
    )
    # Total rep TOKEN volume, for the array-carrying verify broadcasts
    # below (ADVICE r13): n_groups rows of full token arrays can be
    # multi-GB at group counts the row budget happily admits, so those
    # sides are budgeted by element count instead. One tiny aggregate
    # over the two cached inputs (the same eager-probe discipline as the
    # n_groups count above).
    v_reps = int(
        base.select(F.sum(F.size("toks"))).first()[0] or 0
    )
    inv = base.select("doc_id", F.explode("toks").alias("tok"))
    df_census = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Rarest-first per-document order: tokens are distinct within a doc, so
    # the (df, tok) struct sort is a deterministic total order.
    ordered = (
        inv.join(df_census, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct(F.col("df"), F.col("tok")))).alias(
                "_o"
            )
        )
        .select(
            "doc_id",
            F.transform(F.col("_o"), lambda s: s["tok"]).alias("_toks_rare_first"),
        )
    )
    n = F.size("_toks_rare_first").cast("bigint")
    # p = n - ceil(num*n/den) + 1, in exact integer arithmetic.
    ceil_tn = ((F.lit(num) * n + F.lit(den - 1)) - F.pmod(
        F.lit(num) * n + F.lit(den - 1), F.lit(den)
    )) / F.lit(den)
    prefix_len = (n - ceil_tn.cast("bigint") + F.lit(1)).cast("int")
    pref = tracked_cache(
        ordered.select(
            "doc_id",
            n.alias("n"),
            F.posexplode(F.slice("_toks_rare_first", F.lit(1), prefix_len)).alias(
                "pos0", "tok"
            ),
        )
    )
    # PPJoin positional filter (exact): a shared prefix token at 1-based
    # positions (px, py) caps the overlap at 1 + min(nx - px, ny - py); a
    # qualifying pair needs overlap >= alpha = ceil(t/(1+t) * (nx+ny)) =
    # ceil(num*(nx+ny)/(num+den)) — integer cross-multiplied, no floats.
    # Completeness is preserved: for any pair with jaccard >= t the
    # FIRST common token in the global order passes this bound.
    sum_n = F.col("a.n") + F.col("b.n")
    alpha_num = F.lit(num) * sum_n + F.lit(num + den - 1)
    alpha = (
        (alpha_num - F.pmod(alpha_num, F.lit(num + den))) / F.lit(num + den)
    ).cast("bigint")
    ubound = F.lit(1) + F.least(
        F.col("a.n") - (F.col("a.pos0") + F.lit(1)),
        F.col("b.n") - (F.col("b.pos0") + F.lit(1)),
    )
    # The cached prefix table is (1-t) of the REP token volume — small by
    # construction — but its post-collapse lineage (cache over joins) has
    # no usable size estimate, so without the hint the planner falls back
    # to a sort-merge self-join with a full exchange chain (observed: 35
    # CPU-s, plan duplicated 3x). One cheap count over the cache sizes the
    # budget guard; under it, the self-join and both verify joins run
    # broadcast with zero exchanges above the caches (r13 opt, guide §3.1).
    n_pref = pref.count()
    cands = (
        pref.alias("a")
        .join(
            maybe_broadcast(pref.alias("b"), n_rows=n_pref),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: least(n_a,n_b)*den >= greatest(n_a,n_b)*num
            & (
                F.least(F.col("a.n"), F.col("b.n")) * F.lit(den)
                >= F.greatest(F.col("a.n"), F.col("b.n")) * F.lit(num)
            )
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # The token-array sides are budgeted by ELEMENT volume, not rows
    # (ADVICE r13 — see BROADCAST_BUDGET_ARRAY_ELEMS): over budget they
    # fall back to the unhinted shuffle join, identical results.
    from ..session import BROADCAST_BUDGET_ARRAY_ELEMS

    verified = (
        cands.join(
            maybe_broadcast(
                base.select(
                    F.col("doc_id").alias("doc_a"), F.col("toks").alias("_ta")
                ),
                n_rows=v_reps,
                budget_rows=BROADCAST_BUDGET_ARRAY_ELEMS,
            ),
            "doc_a",
        )
        .join(
            maybe_broadcast(
                base.select(
                    F.col("doc_id").alias("doc_b"), F.col("toks").alias("_tb")
                ),
                n_rows=v_reps,
                budget_rows=BROADCAST_BUDGET_ARRAY_ELEMS,
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_ta", "_tb")).cast("bigint").alias("_ni"),
            F.size("_ta").cast("bigint").alias("_na"),
            F.size("_tb").cast("bigint").alias("_nb"),
        )
    )
    union_size = F.col("_na") + F.col("_nb") - F.col("_ni")
    rep_pairs = (
        verified.filter(F.col("_ni") * F.lit(den) >= F.lit(num) * union_size)
        .select(
            "doc_a",
            "doc_b",
            (F.col("_ni") / union_size).alias("jaccard"),
        )
    )
    # Expand rep-level pairs back to member pairs. Inter-group: every
    # (member of a, member of b) combination inherits the rep jaccard;
    # intra-group: identical sets, jaccard exactly 1.0 (the verified path
    # computes n/n for these — bit-identical). Both expansion sides are
    # the bounded (gid, doc_id) membership table, broadcast within budget.
    ma = members.select(F.col("gid").alias("doc_a"), F.col("doc_id").alias("_xa"))
    mb = members.select(F.col("gid").alias("doc_b"), F.col("doc_id").alias("_xb"))
    inter = (
        rep_pairs.join(maybe_broadcast(ma, n_rows=n_members), "doc_a")
        .join(maybe_broadcast(mb, n_rows=n_members), "doc_b")
        .select(
            F.least("_xa", "_xb").alias("doc_a"),
            F.greatest("_xa", "_xb").alias("doc_b"),
            "jaccard",
        )
    )
    intra = (
        members.alias("x")
        .join(
            maybe_broadcast(members.alias("y"), n_rows=n_members),
            (F.col("x.gid") == F.col("y.gid"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter.unionByName(intra)
