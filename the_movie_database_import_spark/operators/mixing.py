"""Corpus mixture sampling and deterministic shuffle-sharding ([ext]
training-data pipeline, north star): the two operators that turn a curated
corpus into TRAINING INPUT — downsample per-domain to hit a target mixture
distribution (the "data mixing" step every LLM recipe publishes weights
for), and assign a reproducible pseudorandom training order partitioned
into equal-expectation shards (the "global shuffle + shard write" step).

Scale design: both are one-small-aggregate-plus-row-local-filter shapes.
``mix_corpus`` shuffles only the per-group COUNT table (one row per
domain/language — thousands at most) and derives every keep-rate inside
the plan; corpus rows are then filtered scan-side by the same md5-bucket
predicate the sampling module uses — no corpus shuffle at all.
``shuffle_shards`` is one hash-partition shuffle plus a per-shard sort —
the minimum physically required to write N training shards in a
reproducible pseudorandom order (a global total-order sort would add a
range-exchange for no benefit: cross-shard order is irrelevant to
training, only within-shard order and shard balance matter).

Determinism: membership and order are pure functions of the id (md5-based,
engine-portable — see operators/sampling.py for why ``df.sample()``'s
per-partition RNG is unusable for reproducible corpus work), so a re-run,
a backfill, or a different cluster reproduces byte-identical shards.

The reference (a load-everything ETL, `loader.py`) has no mixing or
sharding surface; this module is part of the north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .sampling import HASH_SPACE, hash_bucket


def _rate_threshold(rate: Column) -> Column:
    """Column twin of :func:`..sampling.hex_threshold` for rates computed
    IN-PLAN: lowercase 8-hex-char encoding of ``floor(rate * 16^8)``, with
    the same rate>=1 → ``'g'`` keep-all sentinel ('g' sorts above every hex
    char, so no row is excluded by the 1-in-2^32 'ffffffff' edge). DuckDB
    replays it verbatim as ``CASE WHEN rate >= 1 THEN 'g' ELSE
    printf('%08x', CAST(floor(rate * 16^8) AS BIGINT)) END`` — printf and
    format_string agree on %08x for every value below 2^32."""
    return F.when(rate >= 1.0, F.lit("g")).otherwise(
        F.format_string(
            "%08x", F.floor(rate * F.lit(float(HASH_SPACE))).cast("long")
        )
    )


def _snap_rate(rate: Column) -> Column:
    """Snap a derived rate to the nearest integer when float error leaves
    it within 1e-9: the binding group's rate is ``w * (n/w) / n`` which
    rounds to 0.99999... instead of exactly 1 (and ``max_epochs - 1e-16``
    instead of ``max_epochs`` in the epoch variant), silently demoting
    "keep everything" to "keep all but the 1-in-2^32 tail" — the same
    float-drift edge the split-threshold snap fixes in
    operators/sampling.py (ADVICE r05 precedent). Both engines compute the
    identical doubles, so the oracle replays the snap verbatim; inside the
    1e-9 window no value sits near a .5 boundary, so Spark HALF_UP and
    DuckDB half-away rounding agree."""
    nearest = F.round(rate, 0)
    return F.when(F.abs(rate - nearest) < 1e-9, nearest).otherwise(rate)


def mix_corpus(
    docs: DataFrame,
    weights: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Downsample per group so the output approximates the target mixture
    ``weights`` at the LARGEST feasible total size, deterministically.

    Given group sizes ``n_g`` and target fractions ``w_g``, the maximum
    total respecting every fraction is ``T = min_g(n_g / w_g)`` (the
    scarcest group relative to its target binds); each group then keeps an
    expected ``rate_g = w_g * T / n_g`` of its rows via the md5-bucket
    predicate (the binding group keeps everything). Groups absent from
    ``weights`` are dropped — a zero-weight domain is excluded from the
    mix, which is the published-recipe semantics.

    Plan shape: one tiny aggregate (per-group counts — the shuffle carries
    map-side partial counts, not corpus rows), the weights as a broadcast
    local relation, the global min as an unbounded window over the tiny
    per-group table, and a broadcast join of the per-group rate onto the
    corpus — corpus rows are FILTERED in place, never shuffled, and the
    corpus is scanned exactly once for the counts and once for the filter.
    Expected (not exact) per-group sizes: exact-k would need a sort at scale
    for a cosmetic gain no training run needs; the hash predicate keeps
    membership stable under appends and re-runs instead.

    Returns the kept rows with all original columns.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {g: w for g, w in weights.items() if w <= 0}
    if bad:
        raise ValueError(f"weights must be positive (drop groups instead): {bad}")
    spark = docs.sparkSession
    # single slice: a len(weights)-row driver table otherwise fans out
    # into defaultParallelism pickled partitions, each spun up by its own
    # Python worker (r13 opt, guide §4)
    wdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(g, float(w)) for g, w in sorted(weights.items())], 1
        ),
        f"{group_col} string, _w double",
    )
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    # both small sides have STATICALLY known row bounds — the weights
    # local relation is len(weights) rows and the rate table (counts
    # inner-joined to it) is at most len(weights) rows — so the budget
    # guard needs no probe job (n_rows passed from the caller's dict)
    from ..session import maybe_broadcast

    sized = counts.join(
        maybe_broadcast(wdf, n_rows=len(weights)), group_col
    )  # inner: unweighted groups drop
    # T = min(n/w) as an UNBOUNDED window over `sized` rather than a
    # separate agg + crossJoin: the agg formulation re-evaluates the
    # counts subtree (and therefore the corpus scan) once per consumer;
    # the window keeps ONE scan and runs on the tiny per-group table — a
    # single bounded partition of #groups rows, the same deliberate choice
    # operators/vocab.py documents for its rank window.
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rates = sized.select(
        group_col,
        # left-assoc (w * T) / n — the oracle must multiply/divide in the
        # same order for bit-identical doubles
        _snap_rate(
            F.col("_w")
            * F.min(F.col("_n") / F.col("_w")).over(everything)
            / F.col("_n")
        ).alias("_rate"),
    )
    keep = hash_bucket(F.col(id_col)) < _rate_threshold(F.col("_rate"))
    return (
        docs.join(maybe_broadcast(rates, n_rows=len(weights)), group_col)
        .filter(keep)
        .drop("_rate")
        .select(*docs.columns)
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    pos_col: str = "pos",
    key: Column | None = None,
) -> DataFrame:
    """Reproducible pseudorandom training order in ``n_shards`` shards:
    every row gets ``shard_col`` (md5-derived, uniform) and ``pos_col``
    (its 1-based position within the shard in md5 order) — the exact
    shape a sharded training-data write consumes (partition the output by
    ``shard_col``, sort by ``pos_col``, one file per shard).

    shard = first-8-hex-chars of md5(id) as an integer, mod ``n_shards``;
    within-shard order = the FULL md5 digest (id as tiebreak against the
    astronomically-unlikely collision, keeping the order total and the
    output deterministic). Plan shape: one hash-partition shuffle + one
    per-shard sort — no global total order, because cross-shard order is
    irrelevant to a shuffled training epoch while a global sort would add
    a range exchange and a sampling pass at 100 TB.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: {n_shards}")
    if n_shards > HASH_SPACE:
        raise ValueError(f"n_shards must be <= {HASH_SPACE}: {n_shards}")
    # ``key`` overrides the hashed identity — REQUIRED when rows repeat
    # under one id (epoch-upsampled corpora: hash (id, epoch) so a doc's
    # epochs spread across shards instead of sitting adjacent, and so the
    # within-shard order has no equal-key ties whose row_number assignment
    # would be nondeterministic across runs). The key must be unique per
    # row and engine-portably stringable (see hash_bucket's contract).
    key = F.col(id_col).cast("string") if key is None else key.cast("string")
    h = F.md5(key)
    shard = (F.conv(h.substr(1, 8), 16, 10).cast("bigint") % n_shards).alias(
        shard_col
    )
    w = Window.partitionBy(shard_col).orderBy(h, key)
    return df.select(*df.columns, shard).withColumn(
        pos_col, F.row_number().over(w).cast("bigint")
    )


def mix_corpus_epochs(
    docs: DataFrame,
    weights: dict[str, float],
    max_epochs: float = 1.0,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture sampling with UPSAMPLING: like :func:`mix_corpus`, but a
    scarce group may be repeated up to ``max_epochs`` times to hit its
    target fraction — the published-recipe move of running high-quality
    scarce domains (Wikipedia, books) for multiple epochs while a huge
    web crawl runs under one.

    Feasibility: ``capacity_g = n_g * max_epochs / w_g``; the total is
    ``T = min_g(capacity_g)`` and each group's expected emission rate is
    ``rate_g = w_g * T / n_g ∈ (0, max_epochs]``. Every row emits
    ``floor(rate)`` full copies plus one more when its md5 bucket falls
    under the fractional remainder — deterministic, engine-portable, and
    stable under re-runs like every sampler in this module. Output rows
    carry ``epoch`` (1-based copy index) so a downstream shuffle-shard
    write can separate epochs; with ``max_epochs=1`` the emitted id set
    is exactly :func:`mix_corpus`'s.

    Plan shape: identical to :func:`mix_corpus` (tiny count aggregate,
    unbounded min window over the per-group table, broadcast rate join)
    plus an IN-ROW ``explode(sequence(1, n_copies))`` — upsampling never
    shuffles; the duplication happens scan-side where the write consumes
    it.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {g: w for g, w in weights.items() if w <= 0}
    if bad:
        raise ValueError(f"weights must be positive (drop groups instead): {bad}")
    if max_epochs < 1.0:
        raise ValueError(f"max_epochs must be >= 1: {max_epochs}")
    spark = docs.sparkSession
    # single slice — see mix_corpus
    wdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(g, float(w)) for g, w in sorted(weights.items())], 1
        ),
        f"{group_col} string, _w double",
    )
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    # statically bounded small sides (<= len(weights) rows) — see
    # mix_corpus: the budget guard takes n_rows, no probe job
    from ..session import maybe_broadcast

    sized = counts.join(maybe_broadcast(wdf, n_rows=len(weights)), group_col)
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # left-assoc orders are load-bearing for oracle double parity:
    # capacity = ((n * max_epochs) / w), T = min(capacity),
    # rate = ((w * T) / n)
    rates = sized.select(
        group_col,
        _snap_rate(
            F.col("_w")
            * F.min(F.col("_n") * F.lit(float(max_epochs)) / F.col("_w")).over(
                everything
            )
            / F.col("_n")
        ).alias("_rate"),
    )
    frac = F.col("_rate") - F.floor(F.col("_rate"))
    n_copies = F.floor(F.col("_rate")).cast("long") + F.when(
        hash_bucket(F.col(id_col)) < _rate_threshold(frac), F.lit(1)
    ).otherwise(F.lit(0)).cast("long")
    # sequence(1, 0) generates a DESCENDING [1, 0] in Spark, not an empty
    # array (the same trap word_shingles guards against) — a doc with zero
    # copies must explode an explicitly empty array to drop.
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1).cast("long"), n_copies)
    ).otherwise(F.array().cast("array<bigint>"))
    return docs.join(maybe_broadcast(rates, n_rows=len(weights)), group_col).select(
        *docs.columns, F.explode(copies).alias("epoch")
    )


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    score: Column | None = None,
    grid: int = 1_000_000,
) -> DataFrame:
    """Greedy quality-ranked corpus selection under a global TOKEN budget
    ([ext] training-data north star): keep the best documents — by
    ``score``, default :func:`..functions.text.quality_metrics`'s blended
    quality score — while the running token total stays within
    ``budget_tokens``; the "fill a 1-trillion-token training budget with
    the best documents" primitive every LLM data recipe ends with.
    Selection order is (score desc, id asc), ties broken deterministically,
    and the result is EXACTLY the naive doc-level greedy scan (the oracle
    replays it as one cumulative-sum window).

    Returns ``(id_col, text_col, quality_q, n_tokens)`` for the selected
    documents, where ``quality_q = floor(score * grid)`` is the quantized
    rank actually used (both engines compute the identical IEEE double
    and floor it — no transcendentals, so no grid-boundary drift).

    Scale design — the global greedy is NOT a global doc-level window
    (a window ordered over 100 TB of rows funnels everything into one
    partition; the classic anti-pattern):

    1. docs project to (id, text, quantized score, token count) in-row at
       the scan;
    2. a census aggregate (map-side combined) reduces the corpus to one
       row per DISTINCT quantized score — bounded by ``grid + 1`` rows BY
       CONSTRUCTION for the default [0, 1] score, whatever the corpus
       size — and prefix-sums that bounded table in one single-partition
       window (the build_vocab "tiny table BY DESIGN" precedent);
    3. bucket decisions broadcast (<= grid + 1 rows, a statically bounded
       side — the mixing rate-table precedent, no probe job): FULL-KEEP
       buckets (running total within budget) pass rows through with no
       window at all, buckets past the budget drop scan-side, and only
       the single BOUNDARY bucket — at most one quantized score's worth
       of documents — pays a per-doc running sum, partitioned BY that
       bucket so it shuffles only its own rows.

    A custom ``score`` must keep the census bounded (finitely many
    ``floor(score * grid)`` values — any score in a fixed range does);
    pass a coarser ``grid`` to trade rank resolution for census size.
    NULL-text documents are excluded (no tokens to budget).
    """
    from ..session import maybe_broadcast, tracked_cache

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0: {budget_tokens}")
    if score is None:
        from ..functions.text import quality_metrics

        score = quality_metrics(F.col(text_col))["quality_score"]
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.col(text_col),
        F.floor(score * F.lit(grid)).cast("bigint").alias("quality_q"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
    )
    census = base.groupBy("quality_q").agg(F.sum("n_tokens").alias("_btok"))
    best_first = Window.orderBy(F.col("quality_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    census = census.select(
        "quality_q",
        (F.sum("_btok").over(best_first) - F.col("_btok")).alias("_prefix"),
        F.sum("_btok").over(best_first).alias("_run"),
    )
    b = F.lit(budget_tokens).cast("bigint")
    # cached: the decisions table feeds BOTH union branches below — without
    # the cache each branch would re-run the corpus-scale census aggregate
    # (K cached rows buy one fewer full-corpus pass; the branches' own base
    # re-scan stays, scan+project being cheap to replay — the engine's
    # recompute-vs-cache rule)
    decisions = tracked_cache(
        census.filter(F.col("_prefix") < b).select(
            "quality_q", "_prefix", (F.col("_run") <= b).alias("_full")
        )
    )
    joined = base.join(
        maybe_broadcast(decisions, n_rows=grid + 1), "quality_q"
    )
    out_cols = [id_col, text_col, "quality_q", "n_tokens"]
    full = joined.filter(F.col("_full")).select(*out_cols)
    in_bucket = Window.partitionBy("quality_q").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    boundary = (
        joined.filter(~F.col("_full"))
        .withColumn("_cum", F.col("_prefix") + F.sum("n_tokens").over(in_bucket))
        .filter(F.col("_cum") <= b)
        .select(*out_cols)
    )
    return full.unionByName(boundary)


def mix_corpus_temperature(
    docs: DataFrame,
    alpha: float = 0.5,
    group_col: str = "lang",
    id_col: str = "doc_id",
    grid: int = 1_000_000_000,
) -> DataFrame:
    """Temperature-scaled mixture sampling ([ext] the mBERT / XLM-R
    multilingual-recipe standard): downsample per group toward target
    fractions ``p_g ∝ n_g^alpha`` — ``alpha=1`` keeps natural proportions,
    ``alpha→0`` flattens toward uniform, and intermediate values damp the
    head domains while boosting the tail's SHARE, the published trade for
    low-resource coverage. Unlike :func:`mix_corpus` the weights are not
    given — they derive from the observed group sizes IN-PLAN.

    Algebra: with ``w_g = n_g^alpha``, the normalizer cancels out of the
    feasibility cap, leaving ``rate_g = w_g * min_h(n_h / w_h) / n_g`` —
    the same derive-shape as :func:`mix_corpus` with computed weights.
    For ``alpha < 1`` the SMALLEST group binds (keeps everything) and
    every larger group keeps ``(n_bind / n_g)^(1-alpha)`` of its rows.

    Determinism across engines: ``pow`` is a transcendental — Java
    ``Math.pow`` and libm may disagree by 1 ulp (the ln/pow rule the A-ES
    weighted sampler documents), so the final rate is snapped
    (:func:`_snap_rate` — the binding group's ``w*(n/w)/n`` float-drift)
    and then floor-quantized to the 1e-9 ``grid`` BEFORE the md5
    threshold; the oracle replays snap + quantize verbatim, and
    tests/test_sampling.py pins the realized rates' distance from grid
    boundaries (margin >> 1 ulp, so a pow disagreement cannot flip a
    bucket).

    Plan shape: identical to :func:`mix_corpus` — one tiny per-group count
    aggregate, the min as an unbounded window over that bounded table, a
    broadcast of the per-group rates (group count is data-dependent, so
    the side carries no hint and the planner sizes it), and a scan-side
    md5-bucket filter; corpus rows are never shuffled.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = F.pow(F.col("_n").cast("double"), F.lit(float(alpha)))
    # left-assoc (w * min) / n — the oracle multiplies/divides in the same
    # order for bit-identical doubles
    rate_raw = _snap_rate(
        w * F.min(F.col("_n") / w).over(everything) / F.col("_n")
    )
    g = F.lit(float(grid))
    rates = counts.select(
        group_col, (F.floor(rate_raw * g) / g).alias("_rate")
    )
    keep = hash_bucket(F.col(id_col)) < _rate_threshold(F.col("_rate"))
    return (
        docs.join(rates, group_col)
        .filter(keep)
        .select(*docs.columns)
    )
