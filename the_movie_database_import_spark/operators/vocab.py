"""Corpus vocabulary building ([ext] training-data pipeline, north star):
the token-frequency table with rank and cumulative coverage that seeds a
tokenizer train run or an OOV/coverage analysis.

Scale design: the heavy phase is the corpus-wide token count — one
explode + hash aggregate with map-side partial counts, shuffling (token,
partial_count) pairs, never documents. Everything after runs on the VOCAB
table (distinct tokens), which is orders of magnitude smaller than the
corpus (a 100 TB corpus yields a vocab in the millions of rows — a few
hundred MB), so the single-partition rank/coverage window over it is a
deliberate, bounded choice, not an accident: coverage is a prefix sum in
GLOBAL frequency order, which is inherently a total order. The total token
count rides the same window (an unbounded-following sum) so no second scan
or driver round-trip is needed.

The reference (a load-everything ETL, `loader.py`) has no vocabulary
surface; this module is part of the north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import tokens


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Token frequency table: ``(token, n_occurrences, rank, cum_frac)``
    where ``rank`` orders by descending count (token string breaking ties,
    so the table is deterministic) and ``cum_frac`` is the fraction of ALL
    corpus token occurrences covered by ranks ``1..rank`` — the curve a
    tokenizer-budget decision reads ("64k tokens cover 99.2%").

    ``top_k``/``min_count`` bound the output; ``cum_frac`` stays relative
    to the FULL corpus occurrence count (computed before the cut), so a
    truncated table still reports true coverage.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    order = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    everything = order.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = counts.select(
        "token",
        "n_occurrences",
        F.row_number().over(order).cast("bigint").alias("rank"),
        (
            F.sum("n_occurrences").over(running)
            / F.sum("n_occurrences").over(everything)
        ).alias("cum_frac"),
    )
    if min_count > 1:
        out = out.filter(F.col("n_occurrences") >= min_count)
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out


def oov_rate(
    docs: DataFrame, vocab: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a built vocab: the
    fraction of the document's token OCCURRENCES not in ``vocab.token``.
    The vocab probe is broadcast by the planner (small for every sane
    vocab; a pathological one plans a shuffle join); documents explode,
    probe, and re-aggregate on their own id — corpus rows shuffle only as
    (id, counts) pairs."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    hit = tok.join(
        vocab.select("token").withColumn("_in_vocab", F.lit(1)), "token", "left"
    )
    return hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("oov_frac"),
    )


def unigram_nll(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document negative log-likelihood under the corpus's own unigram
    LM ([ext] training-data pipeline) — the CCNet-style "perplexity
    filter" signal: documents whose tokens are unusually improbable under
    the corpus distribution (junk, boilerplate codes, wrong-language
    fragments) score HIGH and can be threshold-filtered.

    Returns ``(id_col, n_tokens, nll_q_sum, avg_nll_q)`` where each
    token's log-probability ``ln(c_t / C)`` is FLOOR-QUANTIZED to a 1e-6
    grid as a BIGINT before summing: a distributed sum of raw doubles is
    addition-order-dependent (different partitionings — or a different
    engine — sum in different orders and disagree in the last bits), while
    the integer sum is exact and order-independent, so the result is
    bit-reproducible and oracle-hashable. ``avg_nll_q`` divides two exact
    integers — deterministic IEEE. The quantized value depends only on the
    (token count, corpus total) pair, so the 1-ulp Java-vs-libm ``ln``
    hazard is checkable: tests verify no distinct ``ln(c/C)`` value sits
    near a grid boundary at every test SF.

    Scale shape: one explode + (token, count) partial-agg shuffle builds
    the LM; the corpus total rides an unbounded window over the tiny count
    table (single bounded partition BY DESIGN — vocab ≪ corpus, same
    choice as :func:`build_vocab`); the probe broadcasts the per-token
    quantized log-probs (a few hundred MB for a trillion-token corpus's
    multi-million-token vocab) and re-aggregates on the doc id — corpus
    rows shuffle only as (id, int-sum) pairs. The LM carries no hint: a
    vocab past ``autoBroadcastJoinThreshold`` (estimated, or observed
    under AQE) plans the probe as a shuffle join — identical semantics —
    instead of approaching Spark's 8 GB broadcast hard cap.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    logp_q = F.floor(
        F.lit(1e6) * F.log(F.col("c") / F.sum("c").over(everything))
    ).cast("bigint")
    lm = counts.select("token", logp_q.alias("_logp_q"))
    return tok.join(lm, "token").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum("_logp_q")).alias("nll_q_sum"),
        (-F.sum("_logp_q") / F.count(F.lit(1))).alias("avg_nll_q"),
    )


def token_kl_divergence(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    grid: float = 1e6,
) -> DataFrame:
    """Per-group token-distribution drift vs the whole corpus ([ext]
    training-data monitoring): for each group g, the add-1-smoothed KL
    divergence ``sum_{t in support(g)} p_t * ln(p_t / q_t)`` of the
    group's unigram distribution P from the global distribution Q — the
    distribution-shift census a crawl pipeline alerts on (a language or
    domain whose token mix drifts day-over-day moves its KL; the
    numeric-histogram audit sees LENGTH shape, this sees CONTENT shape).

    Contract: the sum runs over the group's OWN support (tokens the group
    actually contains — the practical KL variant; absent tokens contribute
    0 from the p side), with add-1 smoothing over the JOINT vocabulary
    size V on both distributions: ``p_t = (c_t + 1) / (N_g + V)``,
    ``q_t = (g_t + 1) / (N + V)``. Each token's contribution is
    FLOOR-QUANTIZED to an integer ``grid`` before the distributed sum —
    the unigram_nll discipline: raw-double sums are addition-order-
    dependent across partitionings and engines, integer sums are exact —
    so the result is bit-reproducible and oracle-hashable. Returns
    ``(group_col, n_tokens, vocab_in_group, kl_q_sum)``; divide
    ``kl_q_sum`` by ``grid`` for nats.

    Scale shape: ONE corpus pass — explode + (group, token) partial-agg
    shuffle; the global per-token counts derive from that same table by a
    window PARTITIONED BY token (shuffle ∝ vocab x groups, never corpus
    rows twice), and the corpus/group totals + joint-vocab size ride
    unbounded windows over the same bounded table (single bounded
    partition BY DESIGN — vocab ≪ corpus, the build_vocab precedent).
    No broadcast, no second scan, no doubles summed.
    """
    tok = docs.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    c = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("_c"))
    per_token = Window.partitionBy("token").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_group = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # joint-vocab size V = sum of a first-row-per-token indicator — rides
    # the same per-token exchange as _g and the same global window as _n
    # (a collect_set-over-everything would materialize the whole vocab
    # into every row's window state: O(V) memory per row — never that)
    first_in_token = (
        F.row_number().over(Window.partitionBy("token").orderBy(group_col)) == 1
    ).cast("long")
    enriched = (
        c.withColumn("_g", F.sum("_c").over(per_token))
        .withColumn("_first", first_in_token)
        .withColumn("_ng", F.sum("_c").over(per_group))
        .withColumn("_n", F.sum("_c").over(everything))
        .withColumn("_v", F.sum("_first").over(everything))
    )
    p = (F.col("_c") + F.lit(1)) / (F.col("_ng") + F.col("_v"))
    q = (F.col("_g") + F.lit(1)) / (F.col("_n") + F.col("_v"))
    term_q = F.floor(F.lit(grid) * (p * F.log(p / q))).cast("bigint")
    return (
        enriched.select(
            group_col,
            F.col("_c"),
            term_q.alias("_t"),
        )
        .groupBy(group_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_in_group"),
            F.sum("_t").alias("kl_q_sum"),
        )
    )


def token_entropy_per_key(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    grid: float = 1e6,
) -> DataFrame:
    """Shannon entropy of each group's token distribution ([ext] the
    corpus-DIVERSITY census beside `source_concentration`'s mass census:
    concentration asks "do few sources hold the token mass", entropy asks
    "how varied is each source's own vocabulary usage" — a source whose
    entropy collapses is emitting templated/boilerplate text even when its
    volume share looks healthy; the Gopher/CCNet curation loop watches
    both). For each group g over its token counts ``c_t`` with total
    ``N_g``: ``H_g = sum_t (c_t/N_g) * ln(N_g/c_t)`` in nats, plus the
    normalized ``H_g / ln(V_g)`` (0 = one token, 1 = uniform over the
    group's own vocabulary; NULL when V_g = 1, where normalization is
    undefined).

    Determinism lane (the unigram_nll/KL discipline): each token's term
    is FLOOR-QUANTIZED to an integer ``grid`` BEFORE the distributed sum
    — integer sums are exact and addition-order-invariant where raw
    double sums are not — so the result is bit-reproducible across
    partitionings and engines and oracle-hashable; the term depends only
    on the (c, N) pair, so the 1-ulp Java-vs-libm ``ln`` hazard is
    checkable and pinned per SF (grid-boundary safety test). The final
    ratios divide exact integers and round 1e-6.

    Scale shape: ONE corpus pass — explode + (group, token) map-side-
    combined census; the group totals ride an unbounded window over the
    census PARTITIONED BY group (vocab x groups rows, never corpus rows
    twice); terms compute per census row; one tiny per-group sum. Same
    cost profile as `token_kl_divergence` minus its per-token exchange."""
    tok = docs.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    c = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("_c"))
    per_group = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_g = F.sum("_c").over(per_group)
    term_q = F.floor(
        F.lit(grid)
        * (F.col("_c").cast("double") / F.col("_ng").cast("double"))
        * F.log(F.col("_ng").cast("double") / F.col("_c").cast("double"))
    ).cast("bigint")
    out = (
        c.withColumn("_ng", n_g)
        .select(group_col, "_c", "_ng", term_q.alias("_t"))
        .groupBy(group_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("_t").alias("_hq"),
        )
    )
    h = F.round(F.col("_hq").cast("double") / F.lit(grid), 6)
    return out.select(
        group_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        h.alias("entropy"),
        F.round(
            F.when(
                F.col("vocab_size") > 1,
                (F.col("_hq").cast("double") / F.lit(grid))
                / F.log(F.col("vocab_size").cast("double")),
            ),
            6,
        ).alias("entropy_norm"),
    )


def token_pair_cooccurrence(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_item_df: int = 2,
    min_pair_support: int = 2,
) -> DataFrame:
    """Market-basket pair co-occurrence census (A-priori passes 1+2) over
    documents-as-baskets / distinct-tokens-as-items: for every frequent
    token pair, the number of documents containing BOTH, each item's own
    document frequency, and the lift ``P(ab) / (P(a)·P(b))`` — the
    association signal under topic clustering, template detection, and
    "these tokens travel together" contamination forensics.

    A-priori pruning is the scale lever: items below ``min_item_df``
    cannot be part of a frequent pair (downward closure), so they are
    dropped BEFORE any pair is generated — the frequent-item table is the
    one data-dependent broadcast (budget-guarded on the vocab count, which
    a small Spark job computes while this DataFrame is built). Pairs are
    then generated IN-ROW per basket from the sorted frequent-item set
    (``item_a < item_b`` by construction, no self-join of the (doc, token)
    table — the oracle replays that textbook formulation instead), and
    the census is one map-side-combined
    aggregate keyed on the pair. Per-basket work is O(f²) in the basket's
    FREQUENT-item count — bounded by pruning, and at 100 TB the classic
    fix for a still-too-wide basket is raising ``min_item_df``, not a
    different plan. HOF discipline: the basket array and its size are
    bound as attribute refs before the lambda (O(1) per element — the
    r08 lambda re-eval trap).

    Lift arithmetic is a single IEEE multiply/divide tree on exact
    integer counts, mirrored verbatim in the oracle — bit-exact, no
    quantization grid (the numeric_histogram lane). ``n_total`` is the
    full basket count (one-row aggregate, broadcast in-plan — data never
    moves for statistics).
    """
    from ..functions.text import distinct_tokens
    from ..session import maybe_broadcast, tracked_cache

    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(distinct_tokens(F.col(text_col))).alias("item"),
    )
    # One corpus explode+agg, THREE consumers (frequent filter, df_a,
    # df_b) — cache the vocab-sized table so the corpus pass runs once;
    # the single eager count then serves every broadcast-budget decision.
    item_df = tracked_cache(
        tok.groupBy("item").agg(F.count(F.lit(1)).alias("item_df"))
    )
    vocab_rows = item_df.count()
    frequent = maybe_broadcast(
        item_df.filter(F.col("item_df") >= F.lit(int(min_item_df))),
        n_rows=vocab_rows,  # conservative upper bound, no second probe
    )
    baskets = (
        tok.join(frequent, "item")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("item")).alias("_a"))
        .withColumn("_n", F.size("_a"))
    )
    a, n = F.col("_a"), F.col("_n")
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    a,
                    lambda x, i: F.transform(
                        F.slice(a, i + F.lit(2), n - i - F.lit(1)),
                        lambda y: F.struct(
                            x.alias("item_a"), y.alias("item_b")
                        ),
                    ),
                )
            )
        ).alias("_p")
    ).select("_p.item_a", "_p.item_b")
    totals = docs.agg(F.count(F.lit(1)).alias("n_total"))
    census = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= F.lit(int(min_pair_support)))
    )
    df_a = item_df.select(
        F.col("item").alias("item_a"), F.col("item_df").alias("df_a")
    )
    df_b = item_df.select(
        F.col("item").alias("item_b"), F.col("item_df").alias("df_b")
    )
    return (
        census.join(maybe_broadcast(df_a, n_rows=vocab_rows), "item_a")
        .join(maybe_broadcast(df_b, n_rows=vocab_rows), "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "n_both",
            "df_a",
            "df_b",
            (
                (F.col("n_both").cast("double") * F.col("n_total"))
                / (F.col("df_a").cast("double") * F.col("df_b"))
            ).alias("lift"),
        )
    )


def bigram_nll(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document CONDITIONAL bigram negative log-likelihood under the
    corpus's own bigram LM ([ext] training-data pipeline) — the
    order-sensitive sibling of :func:`unigram_nll`: each adjacent pair
    (w1, w2) scores ``-ln(c(w1,w2) / c1(w1))`` where ``c1(w1)`` is w1's
    count as a bigram FIRST element, so the conditionals normalize
    exactly. A scrambled or template-stitched document keeps its unigram
    NLL (same token bag) but its bigram NLL spikes — the signal that
    separates "right words" from "right words in the right order".

    Every scored document's bigrams exist in the LM by construction (the
    corpus includes the document), so the MLE conditional needs no
    smoothing — the same self-scoring contract as unigram_nll. Returns
    ``(id_col, n_bigrams, nll_q_sum, avg_nll_q)``; documents with fewer
    than 2 tokens have no bigrams and drop out on both engines.

    Determinism: the unigram_nll integer lane — each conditional
    log-prob floor-quantizes to a 1e-6 grid as BIGINT before the
    distributed sum (raw-double sums are addition-order-dependent);
    grid-boundary safety of the 1-ulp Java-vs-libm ln() difference is
    pinned per SF (tests/test_extensions.py::test_bigram_nll_grid_safety).

    Scale shape: pairs assemble IN-ROW at the scan (token array bound
    ONCE as a lambda variable — the span_gram_digests O(L^2) re-split
    trap); one (w1, w2) partial-agg shuffle builds the LM; ``c1`` is a
    window PARTITIONED BY w1 over the LM table itself (shuffle ∝ bigram
    vocab, never a second corpus pass); the planner sizes the probe
    join's LM side as in :func:`unigram_nll`, and corpus rows re-shuffle
    only as (id, int-sum) pairs.
    """
    toks = tokens(F.col(text_col))
    pair_t = "array<struct<w1:string,w2:string>>"

    def _pairs(t: Column) -> Column:
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast(pair_t))

    bg = docs.select(
        F.col(id_col),
        F.explode(
            F.element_at(F.transform(F.array(toks), _pairs), 1)
        ).alias("_p"),
    ).select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))

    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c"))
    per_w1 = Window.partitionBy("w1").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    logp_q = F.floor(
        F.lit(1e6) * F.log(F.col("_c") / F.sum("_c").over(per_w1))
    ).cast("bigint")
    lm = counts.select("w1", "w2", logp_q.alias("_logp_q"))
    return bg.join(lm, ["w1", "w2"]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("_logp_q")).alias("nll_q_sum"),
        (-F.sum("_logp_q") / F.count(F.lit(1))).alias("avg_nll_q"),
    )


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    phi: float = 0.003,
    capacity: int | None = None,
) -> DataFrame:
    """All tokens with frequency >= ``phi`` of the corpus, EXACTLY —
    found with a Misra–Gries sketch so the shuffle never carries the
    long tail ([ext] the phi-heavy-hitters problem: stop-word discovery,
    boilerplate-token screens, and skew-key detection all start here;
    the MG/Space-Saving + exact-recount recipe is the standard
    distributed answer — Misra & Gries 1982; mergeability per Agarwal
    et al. 2012).

    Three-stage plan, all full-data passes narrow and shuffle-free:
    1. SKETCH: each partition folds its token stream through a
       Misra–Gries summary of ``capacity`` counters (default
       ceil(2/phi)) inside `mapInPandas` — Arrow-batched, value_counts-
       vectorized, O(capacity) state per partition. MG guarantees any
       token with partition frequency > n_p/(capacity+1) survives; a
       globally phi-heavy token is (>= phi)-heavy in some partition
       (pigeonhole), and capacity 2/phi puts the survival threshold at
       phi/2 — so the union of partition summaries is a SUPERSET of the
       true heavy hitters under ANY partitioning.
    2. RECOUNT: the candidate set (<= capacity x partitions tokens,
       thousands not millions) broadcast-semi-filters the token stream
       and only candidate tokens enter the exact count aggregate — the
       groupBy shuffles |candidates| keys instead of |vocab|.
    3. THRESHOLD: keep count >= ceil(phi * N) (N from a map-side count
       pass). Because the recount is exact and the candidate set is a
       superset, the OUTPUT is exact and partition-invariant even
       though the sketch isn't — which is what makes an approximate-
       sketch operator oracle-checkable. The cutoff itself is EXACT
       integer arithmetic (ADVICE r10): ``phi`` snaps to the nearest
       rational num/den with den <= 1e6 (exact for any decimal-literal
       phi, e.g. 0.003 -> 3/1000), and the compare is the
       cross-multiplication ``count * den >= num * N`` — for integer
       count that is equivalent to ``count >= ceil(num*N/den)``, with no
       double product whose binary rounding could shift the ceil by one
       at exact-integer boundaries (an oracle computing ceil in exact
       DECIMAL would then disagree for phi values that round up, e.g.
       0.004). decimal(38,0) operands keep the products exact past the
       int64 range (num*N reaches ~1e19 at a 1e13-token corpus).

    Returns ``(token, n_occurrences, share)``, share rounded 1e-6 (one
    division of exact integers). At 100 TB the token stream is scanned
    thrice (sketch, recount probe, total) but never shuffled wide; only
    candidate counts and the one-row total move."""
    import math

    import pandas as pd

    if not 0 < phi < 1:
        raise ValueError(f"phi must be in (0, 1): {phi}")
    from fractions import Fraction

    phi_frac = Fraction(phi).limit_denominator(1_000_000)
    k = capacity or math.ceil(2.0 / phi)

    def _mg(batches):
        sketch = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["token"].value_counts()
            sketch = sketch.add(vc, fill_value=0)
            if len(sketch) > k:
                # MG merge rule (Agarwal et al.): subtract the (k+1)-th
                # largest counter from all, keep the strictly positive
                cut = sketch.nlargest(k + 1).iloc[-1]
                sketch = sketch[sketch > cut] - cut
        yield pd.DataFrame({"token": sketch.index.astype(str)})

    tok = docs.filter(F.col(text_col).isNotNull()).select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    cands = tok.mapInPandas(_mg, "token string").distinct()
    total = tok.agg(F.count(F.lit(1)).alias("_n"))
    counts = (
        tok.join(cands, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    dec = "decimal(38,0)"
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("n_occurrences").cast(dec) * F.lit(phi_frac.denominator)
            >= F.lit(phi_frac.numerator) * F.col("_n").cast(dec)
        )
        .select(
            "token",
            "n_occurrences",
            F.round(
                F.col("n_occurrences").cast("double") / F.col("_n").cast("double"), 6
            ).alias("share"),
        )
    )


def zipf_fit_per_key(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    grid: float = 1e6,
) -> DataFrame:
    """Zipf rank-frequency power-law fit per group ([ext] the corpus-
    health diagnostic beside `token_entropy_per_key`: natural language
    follows freq ∝ rank^s with s ≈ -1 (Zipf 1949), while templated,
    synthetic, or heavily-deduplicated text bends the log-log line — a
    per-source slope census flags the sources whose token statistics
    stopped looking like language). OLS of ln(freq) on ln(rank) over
    each group's full token census; returns ``(group, n_tokens,
    vocab_size, zipf_slope, zipf_intercept)`` with slope/intercept NULL
    for single-token vocabularies (no line through one point).

    Determinism lane (unigram_nll ln discipline + KS decimal lane):
    ranks come from `row_number` over (count DESC, token ASC) — a total
    deterministic order; both coordinates floor-quantize to the 1e-6
    integer ``grid`` BEFORE the moment sums, and all five OLS moments
    accumulate as EXACT integers (Sx/Sy in bigint; the Sxy/Sxx products
    in DECIMAL(38,0) — grid-scaled products reach ~9e21 at a 1e13-token
    corpus, past int64; HUGEINT in the oracle). Slope and intercept are
    single divisions of exact 128-bit determinants (slope is grid-scale
    invariant since both axes carry the same factor), rounded 1e-6.

    Scale shape: ONE corpus pass (explode + map-side-combined census);
    the rank window and moment aggregate run over census rows (vocab ×
    groups), never corpus rows twice — same profile as the entropy
    census plus the per-group rank sort."""
    tok = docs.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    c = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("_c"))
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("_c").desc(), F.col("token").asc()
    )
    x = F.floor(F.lit(grid) * F.log(F.row_number().over(w_rank).cast("double")))
    y = F.floor(F.lit(grid) * F.log(F.col("_c").cast("double")))
    dec = "decimal(19,0)"
    pts = c.select(
        group_col,
        F.col("_c"),
        x.cast("bigint").alias("_x"),
        y.cast("bigint").alias("_y"),
    )
    m = pts.groupBy(group_col).agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x").cast(dec) * F.col("_y").cast(dec)).alias("_sxy"),
        F.sum(F.col("_x").cast(dec) * F.col("_x").cast(dec)).alias("_sxx"),
    )
    big = "decimal(38,0)"
    n = F.col("vocab_size").cast(big)
    det = n * F.col("_sxx") - F.col("_sx").cast(big) * F.col("_sx").cast(big)
    slope_num = n * F.col("_sxy") - F.col("_sx").cast(big) * F.col("_sy").cast(big)
    icpt_num = (
        F.col("_sy").cast(big) * F.col("_sxx")
        - F.col("_sx").cast(big) * F.col("_sxy")
    )
    return m.select(
        group_col,
        "n_tokens",
        "vocab_size",
        F.round(
            F.when(
                F.col("vocab_size") > 1,
                slope_num.cast("double") / det.cast("double"),
            ),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.when(
                F.col("vocab_size") > 1,
                icpt_num.cast("double") / det.cast("double") / F.lit(grid),
            ),
            6,
        ).alias("zipf_intercept"),
    )


def token_burstiness(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 50,
) -> DataFrame:
    """Per-token burstiness census over the corpus's most frequent tokens
    ([ext] the token-level sibling of the per-source diversity censuses:
    `token_entropy_per_key` asks "how varied is a source's vocabulary",
    this asks "how is each TOKEN's mass distributed across documents" —
    the classic Church/Gale observation that content words are BURSTY,
    arriving in clumps inside few documents, while function words spread
    thin and even. The curation payoffs: a stop-token list derived from
    DISPERSION rather than raw frequency (a templated boilerplate phrase
    is high-cf AND bursty; a true function word is high-cf and flat), and
    a drift probe — a token whose burstiness jumps between crawls marks
    new template/spam mass even when its total count barely moves).

    Per token over the documents CONTAINING it (count c_d > 0):
    ``df`` (containing docs), ``cf = sum c_d`` (corpus frequency),
    ``burst = cf / df`` (Katz's E[c | c>0] — mean occurrences per
    containing doc), and the Fisher variance-to-mean ratio
    ``vmr = (df * sum(c_d^2) - cf^2) / ((df - 1) * cf)`` (1 under a
    Poisson null; >1 = overdispersed/bursty; NULL at df = 1 where the
    sample variance is undefined). Top ``top_k`` tokens by cf,
    tie-broken by token — a bounded report however large the corpus.

    Exactness lane: df, cf, sum(c_d^2) are exact integer aggregates
    (c_d^2 summed as DECIMAL(38,0) — overflow-proof far past 100 TB,
    the zipf_fit discipline), both ratios divide exact integers in one
    correctly-rounded double op each, rounded 1e-6 — no accumulation-
    order hazard anywhere, so the census is oracle-hashable.

    Scale shape: ONE corpus pass — explode + map-side-combined
    (token, doc) count, then a (token) re-aggregate of census rows
    (bounded by corpus vocab x avg-df, the inverted-index row count,
    never corpus text twice); the top-k is a TakeOrderedAndProject on
    the per-token table (vocab-sized)."""
    dec = "decimal(38,0)"
    per_doc = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("token", "_doc")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_tok = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("_c").cast("bigint").alias("cf"),
        F.sum(F.col("_c").cast(dec) * F.col("_c").cast(dec)).alias("_sc2"),
    )
    return _burstiness_report(per_tok, top_k)


def _burstiness_report(per_tok: DataFrame, top_k: int) -> DataFrame:
    """Shared final stage of the burstiness census — from a per-token
    stats table ``(token, df, cf, _sc2)`` to the rounded top-k report.
    Used by both the corpus-scan `token_burstiness` and the side-table
    `token_burstiness_from_vocab`, so the two are bit-identical by
    construction wherever their inputs agree."""
    big = "decimal(38,0)"
    vmr_num = (
        F.col("df").cast(big) * F.col("_sc2").cast(big)
        - F.col("cf").cast(big) * F.col("cf").cast(big)
    )
    vmr_den = (F.col("df") - 1).cast(big) * F.col("cf").cast(big)
    return (
        per_tok.select(
            "token",
            "df",
            "cf",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"), 6
            ).alias("burst"),
            F.round(
                F.when(
                    F.col("df") > 1,
                    vmr_num.cast("double") / vmr_den.cast("double"),
                ),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.col("cf").desc(), "token")
        .limit(top_k)
    )


def token_burstiness_from_vocab(
    spark, side_path: str, top_k: int = 50
) -> DataFrame:
    """`token_burstiness` derived from the incremental vocabulary side
    table instead of a corpus scan ([ext] r12, VERDICT r11 #4 — the
    point of widening the table to ``(token, n, df, sc2)``: the
    dispersion census a daily crawl wants to watch for drift now costs
    O(vocab) per refresh instead of O(corpus)). Reads the side table
    maintained by `vocab_merge_incremental`, maps its exact integer
    columns onto the census's ``(df, cf, Σc²)`` lane, and replays the
    SAME report stage — bit-identical to `token_burstiness` over the
    merged corpus (pinned in tests), because the merge identity
    guarantees the side table equals a full recount.

    Scale shape: one scan of the Heaps-bounded side table, one
    TakeOrderedAndProject — corpus text is never touched."""
    from ..sources.writers import snapshot_read

    per_tok = snapshot_read(spark, side_path).select(
        "token",
        F.col("df").cast("bigint").alias("df"),
        F.col("n").cast("bigint").alias("cf"),
        F.col("sc2").alias("_sc2"),
    )
    return _burstiness_report(per_tok, top_k)


def source_vocab_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources ([ext] the
    REDUNDANCY census over the corpus mix: `source_concentration` asks
    "do few sources hold the mass", `token_entropy_per_key` asks "is each
    source internally varied" — this asks "are two sources the SAME
    vocabulary wearing different names" (mirror sites, syndication
    networks, scraped re-hosts), the signal that feeds a source-level
    dedup/downweight decision before any document-level pass runs. For
    every unordered source pair (a < b): distinct-token vocabulary sizes
    ``vocab_a``/``vocab_b``, intersection size, and
    ``jaccard = inter / (vocab_a + vocab_b - inter)`` — one exact
    integer ratio, rounded 1e-6.

    Scale shape: the corpus collapses to the DISTINCT (source, token)
    table in one explode + map-side-combined aggregate (vocab x sources
    upper bound — millions of rows at 100 TB, never corpus text); pairs
    come from the census self-joined ON TOKEN (a token present in s of
    the sources contributes s^2/2 rows — bounded by sources^2 per token,
    and sources are a catalog-sized dimension, not data); per-source
    vocab sizes broadcast back onto the pair counts. No document ever
    pairs with another document."""
    vocab = (
        docs.select(
            F.col(group_col).alias("_g"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("_g").agg(F.count(F.lit(1)).alias("_v"))
    a = vocab.select(F.col("_g").alias("source_a"), "token")
    b = vocab.select(F.col("_g").alias("source_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("_g").alias("source_a"), F.col("_v").alias("vocab_a"))
    sb = sizes.select(F.col("_g").alias("source_b"), F.col("_v").alias("vocab_b"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("inter").cast("bigint").alias("inter"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def vocab_merge_incremental(
    new_docs: DataFrame,
    side_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> dict:
    """Maintain a PERSISTED corpus token-statistics table across ingest
    batches ([ext] the vocabulary member of the incremental daily-crawl
    family beside `incremental_dedup` (exact digests),
    `dedup_spans_incremental` (substring grams) and
    `minhash_lsh_pairs_incremental` (near-dup signatures): a tokenizer
    retrain, OOV audit, or drift census needs CURRENT corpus-wide token
    statistics, and recounting 100 TB because 1 TB arrived is the failure
    mode). Counts the NEW batch in one pass, merges with the side table
    by token (map-side-combined integer sum — exact, so k merged batches
    are BIT-IDENTICAL to one full recount: the composition identity the
    tests pin), and commits the merged state under the snapshot protocol
    with the read generation PINNED — two racing merges cannot silently
    lose counts; the loser gets `SnapshotConflictError` and re-merges
    against the fresh state.

    Side-table schema (r12 — widened from ``(token, n)`` per VERDICT r11
    #4; r11-era tables need one rebuild): ``(token, n, df, sc2)`` where
    ``n`` is the corpus frequency, ``df`` the number of documents
    containing the token, and ``sc2 = Σ c_d²`` (per-doc count squares,
    DECIMAL(38,0) — the zipf_fit overflow discipline). All three merge
    by EXACT integer sum because ingest batches partition the corpus by
    document: a doc's contribution to df and sc2 lives entirely in its
    own batch. That makes the dispersion censuses side-table-derivable —
    `token_burstiness_from_vocab` replays `token_burstiness` bit-exactly
    from this table, and OOV/coverage audits read ``(token, n)`` as
    before. Censuses needing PER-GROUP shapes the table doesn't hold
    (entropy/zipf per source, growth-curve doc order) remain scan-only
    by design — the table is corpus-global and order-free.

    Cost shape: batch pass is O(batch); the merge shuffles the token-
    stats tables (corpus vocab + batch vocab — Heaps-law-bounded,
    millions of rows at 100 TB, never corpus text); the rewrite is
    O(vocab). Read the current state with `snapshot_read(spark,
    side_path)`.

    ``batch_id`` threads a streaming replay-ledger entry into the commit
    (recorded atomically with the merged counts — the streaming twin's
    exactly-once hook; counts must NEVER be at-least-once, a replayed
    merge would double-count)."""
    from ..sources.writers import snapshot_current, snapshot_read, snapshot_write

    dec = "decimal(38,0)"
    spark = new_docs.sparkSession
    per_doc = (
        new_docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("token", "_doc")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    batch = per_doc.groupBy("token").agg(
        F.sum("_c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum(F.col("_c").cast(dec) * F.col("_c").cast(dec))
        .cast(dec)
        .alias("sc2"),
    )
    cur = snapshot_current(side_path)
    if cur is None:
        # The FIRST write is CAS-pinned to generation 0 too (ADVICE r11):
        # an unpinned truncate rebases onto whatever manifest is current at
        # commit time, so a concurrent merge landing generation 1 between
        # this None read and the commit would be silently REPLACED by only
        # this batch's counts. Pinning makes the racing first-writer lose
        # with SnapshotConflictError, same as every later merge.
        return snapshot_write(
            batch, side_path, expected_generation=0, batch_id=batch_id
        )
    # read AT the pinned generation: the merge input and the CAS base are
    # the same state by construction, so a conflict means exactly "another
    # merge committed after this one's base" — never a window between a
    # current-pointer read and a second manifest read
    merged = (
        snapshot_read(spark, side_path, at_generation=cur["generation"])
        .unionByName(batch)
        .groupBy("token")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("df").cast("bigint").alias("df"),
            F.sum("sc2").cast(dec).alias("sc2"),
        )
    )
    return snapshot_write(
        merged,
        side_path,
        expected_generation=cur["generation"],
        batch_id=batch_id,
    )


def vocab_growth_curve(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Empirical Heaps-law vocabulary growth curve ([ext] the corpus-
    MARGINAL-VALUE census: sweep the corpus in ``id_col`` order and
    report, at ``n_checkpoints`` document-count checkpoints, how many
    tokens have been seen and how many DISTINCT tokens — the curve whose
    flattening says new data is mostly vocabulary the corpus already has
    (dedup/continued-crawl ROI falling) and whose kinks localize where a
    source switch or template flood changed the corpus's growth regime.
    Natural corpora follow V ≈ k·N^beta with beta ~0.4-0.6; a curve that
    goes flat mid-crawl is re-crawled content, one that goes LINEAR is
    synthetic/noise vocabulary).

    Exactness lane: everything is an exact integer — per-doc token
    counts, ntile bucket boundaries over the total doc order (ntile's
    earlier-buckets-get-the-remainder rule, replayed here in exact
    integer arithmetic and shared by the oracle engines), cumulative
    sums over the checkpoint table, and the distinct-vocabulary count
    via each token's FIRST document. No floating point anywhere, so the
    curve is oracle-hash-exact.

    Scale shape: ONE corpus pass builds the (doc, n_tokens) table and
    the per-token first-doc table (both map-side-combined). The global
    doc rank is NOT a global single-partition window (documents are the
    DATA axis — a window ordered over 10^9 per-doc rows funnels them
    into one partition, the anti-pattern `select_token_budget`
    documents): the per-doc table range-partitions on ``id_col``, each
    partition ranks ITS OWN rows (row_number partitioned by the range
    bucket), and cross-partition offsets come from a bounded
    per-partition count table (≤ #partitions rows — stats, not data)
    broadcast back; the ntile bucket is then a map-side exact-integer
    formula of (rank, N). The only single-partition windows run over
    that stats table and the n-row checkpoint table. cum_vocab joins
    the vocab-sized first-doc table against the BROADCAST checkpoint
    list (each token lands in at most n_checkpoints buckets). Corpus
    text is read once; the range-partitioned per-doc table is cached so
    the offsets job and the rank pass see one partitioning."""
    from ..session import tracked_cache

    tok = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    per_doc = tok.groupBy("_doc").agg(F.count(F.lit(1)).alias("_nt"))
    # distributed exact rank: range-partition by doc, rank within each
    # partition, add broadcast cumulative offsets of earlier partitions
    n_part = max(1, docs.sparkSession.sparkContext.defaultParallelism)
    # INVARIANT this rank depends on (nothing else in the repo does):
    # repartitionByRange assigns partition ids in RANGE ORDER — partition
    # i's docs all precede partition i+1's — so per-partition row_number
    # plus the cumulative count of lower-id partitions is the exact global
    # rank. The tracked_cache pins the sampled range boundaries, so the
    # offsets job and the rank pass see the SAME partitioning.
    staged = tracked_cache(
        per_doc.repartitionByRange(n_part, "_doc").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pc = staged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = pc.select(
        "_pid",
        F.coalesce(F.sum("_pc").over(off_w), F.lit(0)).alias("_off"),
    )
    total = pc.agg(F.sum("_pc").cast("bigint").alias("_n"))
    rank_w = Window.partitionBy("_pid").orderBy("_doc")
    ranked = (
        staged.join(offsets, "_pid")
        .withColumn(
            "_rank",
            (F.row_number().over(rank_w) + F.col("_off")).cast("bigint"),
        )
        .crossJoin(F.broadcast(total))
    )
    # ntile(n) remainder-first semantics in exact integers: q = N div n,
    # r = N mod n; the first r buckets take q+1 rows. ceil(a/b) as
    # (a + b - 1) div b keeps every step integral.
    n = F.lit(n_checkpoints).cast("bigint")
    q = F.floor(F.col("_n") / n).cast("bigint")
    r = (F.col("_n") % n).cast("bigint")
    cut = r * (q + 1)
    rank = F.col("_rank")
    bucket = F.when(
        rank <= cut,
        F.floor((rank + q) / (q + 1)),
    ).otherwise(
        r + F.floor((rank - cut + F.greatest(q, F.lit(1)) - 1) / F.greatest(q, F.lit(1)))
    )
    bucketed = ranked.withColumn("bucket", bucket.cast("bigint"))
    cp = bucketed.groupBy("bucket").agg(
        F.max("_doc").alias("last_doc"),
        F.count(F.lit(1)).alias("_docs"),
        F.sum("_nt").alias("_toks"),
    )
    cum_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cp.select(
        "bucket",
        "last_doc",
        F.sum("_docs").over(cum_w).cast("bigint").alias("docs_seen"),
        F.sum("_toks").over(cum_w).cast("bigint").alias("cum_tokens"),
    )
    first_doc = tok.groupBy("token").agg(F.min("_doc").alias("_fdoc"))
    cv = (
        first_doc.join(
            cum.select("bucket", "last_doc"), F.col("_fdoc") <= F.col("last_doc")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cum_vocab"))
    )
    return (
        cum.join(cv, "bucket")
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("last_doc").cast("bigint").alias("last_doc"),
            "docs_seen",
            "cum_tokens",
            "cum_vocab",
        )
        .orderBy("bucket")
    )


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    grid: float = 1e6,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how target-like its hashed-bigram distribution is — the weight the
    resampling stage draws against when a pretraining mixture should lean
    toward a target domain (here: rows satisfying ``target_pred``).

    DSIR's estimator is deliberately coarse: bigrams hash into
    ``n_buckets`` buckets (collisions are part of the model — they
    regularize exactly like a hashing vectorizer), the target and raw
    corpora each induce a smoothed categorical distribution over buckets,
    and a document's log importance weight is ``sum_b ln(p_target(b) /
    p_raw(b))`` over its bigram occurrences.

    Determinism/oracle contract: the bucket hash is the module's portable
    rolling polynomial (:func:`...functions.text.fingerprint` — base 31
    mod 1e9+7, pure integer ops, identical in any engine) mod
    ``n_buckets``; each smoothed log-prob ``ln((c+1)/(C+B))`` is
    floor-quantized to a ``grid`` integer BEFORE the subtraction and the
    per-document sum (distributed double sums are addition-order-
    dependent; integer sums are exact), so the DuckDB oracle is
    hash-exact. Returns ``(id_col, n_bigrams, logratio_q_sum,
    avg_logratio_q)`` — documents with fewer than 2 tokens have no
    bigrams and drop out (mirrored in the oracle).

    Scale shape: bigrams and buckets are built IN-ROW (token array bound
    once — the span-dedup O(L²) re-split hazard avoided); the census is
    one map-side-combinable aggregate with at most ``n_buckets`` output
    rows; totals ride an unbounded window over that bounded census; the
    per-doc probe re-aggregates (id, int-weight) pairs after a broadcast
    of the ``n_buckets``-row weight table — corpus text never shuffles.
    """
    from ..functions.text import fingerprint

    toks = tokens(F.col(text_col))
    empty = F.array().cast("array<string>")
    bigrams = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.when(
                F.size(t) >= 2,
                F.transform(
                    F.slice(t, 1, F.size(t) - 1),
                    lambda x, i: F.concat(x, F.lit(" "), F.element_at(t, i + 2)),
                ),
            ).otherwise(empty),
        ),
        1,
    )
    buckets = F.transform(bigrams, lambda bg: F.pmod(fingerprint(bg), F.lit(n_buckets)))
    # fan_out (r13 opt, guide §2.6/§6): the bigram hash + explode is the
    # operator's CPU and runs at SCAN parallelism — a single-file corpus
    # arrives as ONE split, so census and probe each ran their ~1 CPU-s
    # serially on one core (measured: the query's two 1-task stages). The
    # round-robin repartition is a no-op on a many-split 100 TB scan.
    from ..sources.readers import fan_out

    occ = fan_out(docs).select(
        F.col(id_col),
        target_pred.alias("_is_target"),
        F.explode(buckets).alias("b"),
    )
    census = occ.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("c_t"),
    )
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lp_q = F.floor(
        F.lit(grid)
        * F.log(
            (F.col("c_t") + F.lit(1))
            / (F.sum("c_t").over(everything) + F.lit(n_buckets))
        )
    ).cast("bigint")
    lq_q = F.floor(
        F.lit(grid)
        * F.log(
            (F.col("c_raw") + F.lit(1))
            / (F.sum("c_raw").over(everything) + F.lit(n_buckets))
        )
    ).cast("bigint")
    weights = census.select("b", (lp_q - lq_q).alias("_w_q"))
    return (
        occ.join(weights, "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_w_q").alias("logratio_q_sum"),
            (F.sum("_w_q") / F.count(F.lit(1))).alias("avg_logratio_q"),
        )
    )
