"""Graph analytics over co-occurrence graphs: PageRank and triangle census.

The engine already runs one iterative graph fixpoint — connected components
(`operators/dedup.py:connected_components`, the dedup-cluster labeler). This
module adds the two other canonical distributed-graph shapes a corpus /
catalog pipeline needs, both over the same kind of item co-occurrence graph
(parts bought together, documents syndicated together):

- ``pagerank``: damped power iteration. Like the CC fixpoint it is a loop of
  one shuffle-join + one aggregate per round with ``localCheckpoint`` lineage
  truncation — but unlike CC it is NUMERIC, so cross-engine hash-exactness
  requires an arithmetic lane both engines floor identically. Every quantity
  is a BIGINT on an integer grid (``scale``), every division is integer
  ``DIV`` with positive operands (truncation == floor), and the oracle unrolls
  the same fixed-iteration recurrence as chained CTEs — so the driver hash
  certifies ten rounds of distributed mass propagation bit-for-bit.
- ``triangle_counts``: per-node triangle participation. The scale trick is
  degree-ordered edge orientation (each undirected edge points from its
  (degree, id)-smaller endpoint to the larger): wedge generation then costs
  sum(out_deg^2) = O(m^1.5) instead of sum(deg^2), which is the difference
  between "the hub node explodes" and "bounded work" on power-law graphs
  (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  Reducer", WWW'11). Each triangle is emitted exactly once (its
  orientation-minimal vertex is the only one with both others as
  out-neighbors), so the counts are exact integers and the oracle is a plain
  three-way join over canonical u<v edges.

The reference (`loader.py` — a single-threaded pandas ETL) has no graph
analytics at all; SURVEY.md §2 Part C carries these as north-star extension
rows beside connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cooccurrence_edges(
    df: DataFrame,
    key_col: str,
    item_col: str,
    directed: bool = True,
) -> DataFrame:
    """Build the item co-occurrence graph: an edge (u, v) with weight w means
    items u and v appeared under w distinct keys together (parts in the same
    order, docs from the same source batch, ...).

    Scale posture (r13 opt, guide §2.3/§2.4 — was a distinct + per-key
    self-join + pair aggregate, i.e. a distinct exchange, a join exchange
    PAIR, and the pair-stream aggregate exchange): one ``collect_set``
    aggregate per key is now the ONLY pass over the data rows — the set
    dedups repeated (key, item) rows (what the old distinct() did) and the
    per-key pairs are generated IN-ROW from the sorted set (bounded by the
    max group size: TPC-H orders hold ≤7 lineitems, so ≤21 unordered pairs
    per order — never an all-pairs over the item universe). Canonical u < v
    pairs are counted once; the directed view is the same counted edge list
    unioned with its swap (co-occurrence is symmetric), so the aggregate
    runs at HALF the old directed pair volume. Measured at sf0.1 (pagerank
    edge prologue): 3 exchanges → 2, edge-generation stages 2.70+3.88+2.97
    CPU-s → one collect_set pass.

    ``directed=True`` emits both (u, v) and (v, u) — what ``pagerank`` wants;
    ``directed=False`` emits canonical u < v rows — what ``triangle_counts``
    wants.
    """
    sets = (
        df.select(F.col(key_col).alias("_k"), F.col(item_col).alias("_i"))
        .groupBy("_k")
        .agg(F.array_sort(F.collect_set("_i")).alias("_items"))
    )
    arr = F.col("_items")
    # ordered pairs (x, y) with x < y: element i with every later element —
    # the array is sorted, so position order IS value order. The slice start
    # is i+2 because SQL slice() is 1-based and we want strictly-later
    # elements; slice() past the end yields an empty array.
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    und = (
        sets.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.u").alias("src"), F.col("_p.v").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("weight"))
    )
    if not directed:
        return und
    # Both union branches instantiate the aggregate sub-plan; cache the
    # counted canonical edges so the directed view costs one aggregate plus
    # an edge-list-sized cache, not two aggregates (same reason
    # minhash_lsh_pairs caches its signature table).
    from ..session import tracked_cache

    und = tracked_cache(und)
    return und.unionByName(
        und.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    iters: int = 10,
    scale: int = 10_000_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Weighted PageRank by damped power iteration on an integer grid.

    Recurrence (all BIGINT, all divisions integer-floor over positive
    operands, so Spark ``DIV`` and DuckDB ``//`` agree bit-for-bit):

        pr_0(v)     = scale DIV N
        contrib(e)  = (d_num * pr_t(src) * w_e) DIV (d_den * W_out(src))
        pr_{t+1}(v) = ((d_den - d_num) * scale) DIV (d_den * N)
                      + sum over in-edges e of contrib(e)

    Each edge's contribution floors INDIVIDUALLY (the oracle replays the
    identical per-edge expression), so the result is deterministic under any
    partitioning or join order — integer addition commutes, unlike float.
    Overflow bound: d_num * scale * max(w) must stay under 2^63; the default
    scale 1e10 leaves headroom to per-edge weights of ~1e7 co-occurrences.

    Loop shape (r14): the edge table joins `outw` ONCE up front, gains one
    synthetic zero-weight self-row per node (teleport coverage), and is
    hash-partitioned BY DESTINATION before its single `localCheckpoint` —
    the checkpoint records that partitioning, so each round's
    `groupBy(dst)` needs no exchange and the round plan is one fused stage:
    scan edge blocks -> BroadcastHashJoin(ranks, under budget) -> project
    -> aggregate -> checkpoint (2 jobs/round, zero shuffle; the r13 form
    paid 3 jobs and a full shuffle per round). Once the new ranks checkpoint
    has materialized, the previous round's checkpoint is retired through its
    own DataFrame handle (``session.retire``). Over the broadcast
    budget every round falls back to the unhinted shuffle-join plan —
    identical integer results. At cluster scale the checkpoint becomes a
    persisted table per round — same loop body. Nodes with no in-edges keep
    the teleport term via their synthetic self-row (contribution exactly
    0); dangling mass needs no correction here because the co-occurrence
    graph is symmetric (every node has out-edges) — callers feeding a
    non-symmetric graph should add the standard dangling-sum redistribution.

    Returns (node, pr_scaled BIGINT). pr_scaled/scale sums to ≤1 (flooring
    leaks mass downward deterministically — both engines leak identically).

    Lifetime contract (ADVICE r13): the returned frame IS the final ranks
    checkpoint, handed to ``session.track_result_checkpoint`` and retired at
    the next registry-query boundary (``session.release_caches``); every
    other checkpoint is retired here. Consume it before that boundary;
    a later re-execution cannot recompute the freed blocks (truncated
    lineage) and fails fast instead of silently re-running the plan.
    """
    from pyspark.sql import Observation

    from ..session import (
        maybe_broadcast,
        retire,
        sized_partitions,
        track_result_checkpoint,
    )

    sc = edges.sparkSession.sparkContext

    e = (
        edges.select(
            F.col(src_col).alias("_u"),
            F.col(dst_col).alias("_v"),
            F.col(weight_col).cast("bigint").alias("_w"),
        )
        .where(F.col(src_col) != F.col(dst_col))
        # Narrow-coalesce to cluster parallelism before checkpointing: the
        # union-shaped edge plans arrive at 2x the shuffle partition count,
        # and every ROUND re-reads these blocks — halving the partition
        # count halves every round's task count for free (no shuffle).
        # (A columnar tracked_cache instead of the checkpoint was tried
        # and REGRESSED 4x: ten rounds of 32-way concurrent
        # InMemoryTableScans serialize on block-manager locks; checkpoint
        # block scans do not.)
        .coalesce(sc.defaultParallelism)
        # Pay the caller's edge-generation plan exactly once (r13 opt: the
        # old code checkpointed AFTER the out-weight join, whose two plan
        # branches each re-ran edge generation).
        .localCheckpoint()
    )

    # The node count is a bounded driver scalar; it rides the checkpoint's
    # own materializing job (an Observation, no separate count job), and
    # folding it into the expressions as a LITERAL replaces the per-round
    # crossJoin(broadcast(n_df)) — identical integer arithmetic, one fewer
    # broadcast per round (r13 opt).
    obs = Observation()
    node_ckpt = (
        e.select(F.col("_u").alias("node"))
        .union(e.select(F.col("_v").alias("node")))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n_nodes"))
        .localCheckpoint()
    )
    n = int(obs.get["n_nodes"] or 0)
    # Size-derived partition count for the n-row node/rank tables (r13 opt):
    # every round re-reads them and rebuilds a broadcast from them, so
    # shuffle-partition-many blocks would cost ~30 near-empty tasks per
    # table per round.
    nparts = sized_partitions(sc, n)
    nodes = node_ckpt.coalesce(nparts)
    if n == 0:
        # Empty graph: nothing iterates, so the scaffolding checkpoints are
        # dead right here — retire them before returning.
        empty = nodes.select(
            "node", F.lit(0).cast("bigint").alias("pr_scaled")
        ).localCheckpoint()
        retire(e, node_ckpt)
        return track_result_checkpoint(empty)

    # Rank/out-weight/contribution tables are all ≤ n rows. When n fits the
    # broadcast budget the per-round join plans as ranks-broadcast
    # BroadcastHashJoin and THE EDGE TABLE IS NEVER SHUFFLED — the old
    # SortMergeJoin exchanged the full edge table every round (measured at
    # sf0.1: 34 MB shuffle read and ~2.5 CPU-s per round; the checkpointed
    # LogicalRDD has no stats, so the planner could never discover the
    # broadcast itself — guide §3.1 "use an explicit hint when you know a
    # side is small"). Over the budget every join falls back to the shuffle
    # plan unhinted (identical integer results either way).
    outw = e.groupBy("_u").agg(F.sum("_w").alias("_wout"))
    # r14 (guide §2.4 "remove shuffles outright"): hash-partition the
    # weighted edge table by DESTINATION once, before its checkpoint, and
    # fold the per-node zero row (teleport coverage for in-edge-less nodes)
    # INTO it as a synthetic self-row with _w = 0, _wout = 1 — its per-edge
    # contribution floors to exactly 0, so the round's sum is integer-
    # identical to the old `unionByName(zeros)` form while keeping the
    # union out of the per-round plan (UnionExec erases outputPartitioning).
    # Dataset.localCheckpoint records the physical plan's outputPartitioning
    # into the LogicalRDD, so every round's groupBy("_v") then satisfies its
    # ClusteredDistribution from the checkpoint blocks and the round plan
    # has ZERO data exchanges: scan -> BroadcastHashJoin(ranks) -> project
    # -> fused partial+final HashAggregate, one stage, 2 jobs/round
    # (broadcast collect + checkpoint) vs 3 jobs + a full shuffle before.
    # AQE must be off while THIS checkpoint materializes:
    # AdaptiveSparkPlanExec hides the final outputPartitioning from
    # Dataset.checkpoint, which then records nothing (measured: the round
    # re-gains its Exchange). Everything after re-enables AQE.
    synth = nodes.select(
        F.col("node").alias("_u"),
        F.col("node").alias("_v"),
        F.lit(0).cast("bigint").alias("_w"),
        F.lit(1).cast("bigint").alias("_wout"),
    )
    adaptive_was = edges.sparkSession.conf.get(
        "spark.sql.adaptive.enabled", "true"
    )
    edges.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ew = (
            e.join(maybe_broadcast(outw, n_rows=n), "_u")
            .select("_u", "_v", "_w", "_wout")
            .unionByName(synth)
            .repartition(sc.defaultParallelism, "_v")
            .localCheckpoint()
        )
    finally:
        edges.sparkSession.conf.set("spark.sql.adaptive.enabled", adaptive_was)
    retire(e)

    ranks = (
        nodes.select(
            "node", F.lit(scale // n).cast("bigint").alias("pr_scaled")
        )
        .coalesce(nparts)
        .localCheckpoint()
    )
    # The node universe now lives on inside ew (synthetic rows) and ranks;
    # its own checkpoint is dead from here.
    retire(node_ckpt)

    # Integer-floor teleport term, folded to a literal: Python // on
    # positive ints is the same truncation as SQL DIV.
    teleport = F.lit(
        ((damping_den - damping_num) * scale) // (damping_den * n)
    ).cast("bigint")
    # Per-node teleport coverage rides the synthetic _w = 0 self-rows baked
    # into ew above (r14): a node with no real in-edges still emits one
    # zero contribution to itself, so the sum covers the full universe —
    # integer-identical to the r13 `unionByName(zeros)` (x + 0 = x) without
    # a union node erasing ew's dst-partitioning from the round plan.
    for _ in range(iters):
        contrib = (
            ew.join(maybe_broadcast(ranks, n_rows=n), ew["_u"] == F.col("node"))
            .select(
                F.col("_v"),
                F.expr(
                    f"(CAST({damping_num} AS BIGINT) * pr_scaled * _w)"
                    f" DIV (CAST({damping_den} AS BIGINT) * _wout)"
                ).alias("_c"),
            )
            .groupBy("_v")
            .agg(F.sum("_c").alias("_in"))
        )
        # NO coalesce here (r14): with the exchange gone, a coalesce would
        # merge into the round's ONLY stage and run the whole scan-join-
        # aggregate on nparts tasks — de-parallelizing the round. The rank
        # checkpoint simply keeps the edge table's partition count; the
        # blocks are tiny and the broadcast build reads them in parallel.
        prev, ranks = ranks, contrib.select(
            F.col("_v").alias("node"),
            (teleport + F.col("_in")).cast("bigint").alias("pr_scaled"),
        ).localCheckpoint()
        retire(prev)

    # The returned DataFrame is fully materialized (each round's checkpoint
    # is eager), so the weighted edge table is dead weight the moment the
    # loop exits: retire it HERE (r13 opt: ew alone pinned ~240 MB of
    # deserialized edge blocks per pagerank call for the rest of the
    # session, the dominant ext-bench interference leak). The final ranks
    # checkpoint IS the result; it retires at the next query boundary as a
    # tracked handle.
    retire(ew)
    return track_result_checkpoint(ranks)


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over an undirected graph.

    Input edges may be directed, duplicated, or carry self-loops; they are
    canonicalized to distinct u < v pairs first. Each undirected edge is then
    ORIENTED from its (degree, id)-lexicographically smaller endpoint to the
    larger one. Wedges are pairs of out-neighbors of one center, so the wedge
    count is sum(out_deg choose 2), and the orientation bounds every node's
    out-degree by O(sqrt(m)) — the hub that would generate deg^2 wedges in a
    naive enumeration generates almost none, because its edges all point AT
    it (Suri & Vassilvitskii WWW'11; same reason the engine's MinHash path
    collapses identical-set cliques before emitting pairs). A triangle's
    orientation-minimal vertex is the unique center seeing both others as
    out-neighbors, so each triangle is emitted exactly once; the closing edge
    is checked against the canonical u < v set (for b < c the undirected edge
    IS the row (b, c)).

    Plan: two shuffles — wedge self-join keyed by center, closure join keyed
    by the (b, c) pair — then an explode + count. All exact integers; the
    oracle is the plain three-way join over canonical edges.
    """
    from ..session import maybe_broadcast, tracked_cache

    sc = edges.sparkSession.sparkContext

    # Canonical edge set, cached: read by the degree census, the
    # orientation, and the closure probe (r13 opt — each consumer
    # previously re-instantiated the whole distinct sub-plan).
    und = tracked_cache(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )
    m = und.count()
    # Cached: the degree census is read by BOTH orientation broadcasts
    # (differently-aliased plans, so exchange reuse never kicks in — each
    # build re-ran the union + aggregate over the edge cache, measured 3x
    # 7.7 CPU-s at sf0.1).
    deg = tracked_cache(
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Degree table rows = node count ≤ 2m (known bound, no probe job);
    # within budget both orientation joins broadcast, so the edge table is
    # never shuffled for orientation (guide §3.1; previously two
    # SortMergeJoin exchange pairs).
    du = maybe_broadcast(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("_du")),
        n_rows=2 * m,
    )
    dv = maybe_broadcast(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv")),
        n_rows=2 * m,
    )
    lower_is_u = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("y"),
        )
    )
    # Edge-iterator closure over ORIENTED adjacency sets (r13 opt): a
    # triangle a→b, a→c, b→c (orientation-minimal a, then b, then c) is
    # found exactly once, at its a→b edge, as c ∈ outadj(a) ∩ outadj(b).
    # The baseline materialized every WEDGE (out-neighbor pair) and probed
    # the edge set per wedge — at sf0.1 that is 36M wedges against 1.9M
    # triangles, i.e. 95% of the candidate stream was generated only to be
    # dropped, and the per-wedge probe of the broadcast edge map dominated
    # the query (measured 99 CPU-s at 32-way; and under AQE's
    # byte-proportional coalescing the super-linear enumeration ran on 3
    # tasks, ~serial). Intersecting the two bounded out-adjacency arrays
    # per EDGE does the same closure with work proportional to edges x
    # O(sqrt(m)) array elements, and the only exploded stream is the TRUE
    # triangle stream. Orientation still bounds every array at O(sqrt(m)).
    oadj = tracked_cache(
        # explicit partition count: exempt from AQE coalescing, so the
        # set-build parallelism survives small shuffle bytes. Cached for
        # the same both-broadcasts-read-it reason as deg.
        oriented.repartition(sc.defaultParallelism, "x")
        .groupBy("x")
        .agg(F.collect_set("y").alias("_adj"))
    )
    # The arrays hold m elements in total, so the 8M-row guard on 2*m caps
    # them below BROADCAST_BUDGET_ARRAY_ELEMS: the row budget is enough.
    a_x = maybe_broadcast(
        oadj.select(F.col("x"), F.col("_adj").alias("_ax")), n_rows=2 * m
    )
    a_y = maybe_broadcast(
        oadj.select(F.col("x").alias("y"), F.col("_adj").alias("_ay")),
        n_rows=2 * m,
    )
    # Inner joins are exact here: an endpoint missing from oadj has no
    # out-edges, so its intersection is empty and the edge contributes
    # nothing either way.
    closed = (
        oriented.join(a_x, "x")
        .join(a_y, "y")
        .select(
            "x",
            "y",
            F.array_intersect("_ax", "_ay").alias("_common"),
        )
        .select(
            "x",
            "y",
            "_common",
            F.size("_common").cast("bigint").alias("_s"),
        )
    )
    # Per-edge contributions in ONE projection: both endpoints sit in _s
    # triangles through this edge; each common neighbor sits in exactly
    # one. Zero-count endpoint rows are filtered after the aggregate (sum
    # 0 == absent in the old census).
    contrib = F.concat(
        F.array(
            F.struct(F.col("x").alias("node"), F.col("_s").alias("w")),
            F.struct(F.col("y").alias("node"), F.col("_s").alias("w")),
        ),
        F.transform(
            F.col("_common"),
            lambda c: F.struct(
                c.alias("node"), F.lit(1).cast("bigint").alias("w")
            ),
        ),
    )
    return (
        closed.select(F.explode(contrib).alias("_c"))
        .select(F.col("_c.node").alias("node"), F.col("_c.w").alias("w"))
        .groupBy("node")
        .agg(F.sum("w").cast("bigint").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )
