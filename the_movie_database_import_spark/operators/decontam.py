"""Benchmark decontamination ([ext] training-data pipeline, north star):
flag or drop training documents that share any word n-gram with an
evaluation benchmark, the standard guard against test-set leakage into a
training corpus (the GPT-3 appendix-C / Llama family recipe: 13-gram
overlap against each eval set).

Scale design: the benchmark side is SMALL (eval sets are thousands of
documents, the corpus is 100 TB), so its distinct n-gram set is hashed to
64-bit longs and BROADCAST — the corpus side streams through a broadcast
semi/anti probe with no shuffle of corpus rows at all. Corpus n-grams are
built in-row (``word_shingles``: sequence + slice + array_join, all
whole-stage codegen), exploded, hashed, probed; the only wide operation is
the final per-doc count aggregate, keyed by doc id.

The probe joins on ``xxhash64(gram)`` rather than the gram string: the
broadcast map holds 8-byte longs instead of ~n-word strings (an order of
magnitude smaller for 13-grams), and a false match needs a 2^-64 hash
collision — negligible against corpus sizes; the SQL oracle joins on the
gram strings themselves and must agree exactly.

The reference (a load-everything ETL, `loader.py`) has no decontamination
surface; this module is part of the north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import word_shingles


def _gram_hashes(text: Column, n: int) -> Column:
    """Distinct word n-grams of ``text`` hashed to 64-bit longs, in-row."""
    return F.transform(word_shingles(text, n), lambda g: F.xxhash64(g))


def contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_set_col: str | None = None,
) -> DataFrame:
    """Per-corpus-document count of DISTINCT benchmark n-grams it contains.

    Returns ``(id_col, n_contaminated_grams)`` with one row per corpus doc
    that matched at least one benchmark gram — the evidence table a curation
    pipeline thresholds (≥1 distinct gram is the published decontamination
    rule; keeping the count supports looser "k overlapping grams" policies).

    A real release decontaminates against MANY eval sets and needs per-set
    evidence ("which benchmark leaked into this doc"): pass
    ``bench_set_col`` naming a label column on ``benchmark`` and the output
    becomes one row per (doc, eval set) with that set's distinct-gram
    count. A gram appearing in several sets is counted for each (the
    distinct step is per set), so per-set evidence is complete.

    Plan shape: benchmark grams explode → distinct → broadcast; corpus grams
    explode in-row and probe the broadcast inner-join, then aggregate by doc
    id. Corpus rows are never shuffled pre-aggregate, and the aggregate's
    input is only the MATCHED (doc, gram) pairs — tiny unless the corpus is
    thoroughly contaminated. The gram table carries no hint: the planner
    broadcasts it while its estimated (or, under AQE, observed) size is
    under ``autoBroadcastJoinThreshold``, so a pathological "benchmark"
    the size of a corpus plans a shuffle join instead of blowing the
    broadcast. Building the result starts no Spark job.
    """
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    set_cols = [bench_set_col] if bench_set_col else []
    bench_grams = (
        benchmark.select(
            *set_cols,
            F.explode(_gram_hashes(F.col(bench_text_col), n)).alias("gram_h"),
        )
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(_gram_hashes(F.col(text_col), n)).alias("gram_h")
    )
    return (
        corpus_grams.join(bench_grams, "gram_h")
        .groupBy(id_col, *set_cols)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    min_grams: int = 1,
) -> DataFrame:
    """Remove corpus documents sharing ``>= min_grams`` distinct word
    n-grams with the benchmark — the clean training corpus.

    Implemented as a broadcast LEFT ANTI join against the contaminated-id
    set (itself the output of :func:`contamination_counts`, which is tiny:
    one id per contaminated doc). Corpus rows stream through unshuffled;
    the full row survives, so this drops in anywhere in a pipeline. The
    id set is left to the planner like the gram table: a corpus that
    turns out thoroughly contaminated plans a shuffle anti join.
    """
    contaminated = (
        contamination_counts(corpus, benchmark, n, text_col, id_col, bench_text_col)
        .filter(F.col("n_contaminated_grams") >= min_grams)
        .select(id_col)
    )
    return corpus.join(contaminated, id_col, "left_anti")


def containment_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark CONTAINMENT score — the fraction of the
    document's distinct word n-grams that appear anywhere in the
    benchmark: ``containment = |grams(doc) ∩ grams(bench)| /
    |grams(doc)|`` ([ext] the graded decontamination policy beside
    :func:`contamination_counts`' binary any-overlap rule: "any shared
    13-gram" treats a quoted sentence and a wholesale test-set copy the
    same, while thresholding containment (the PaLM/FLAN-style >= 70%
    overlap rule) removes only documents that substantially ARE the
    benchmark). Returns ``(id_col, n_grams, n_matched, containment)``
    for every corpus doc with at least one n-gram — unmatched docs score
    0.0 so the output is a complete audit table, not just the flagged
    tail.

    Plan shape: the denominator is computed IN-ROW (``word_shingles``
    already emits distinct shingles; ``size`` never leaves the scan),
    and the numerator reuses the sibling's broadcast-probe: benchmark
    grams hash to 64-bit longs → distinct → broadcast by the planner;
    corpus grams explode in-row and probe it, so the only aggregate
    input is MATCHED (doc, gram) pairs. The per-doc matched counts
    (one row per contaminated doc, tiny) broadcast-join back onto the
    in-row totals — corpus rows are never shuffled at any stage. Ratio =
    one division of exact integers, rounded 1e-6."""
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    bench_grams = (
        benchmark.select(
            F.explode(_gram_hashes(F.col(bench_text_col), n)).alias("gram_h")
        )
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(_gram_hashes(F.col(text_col), n)).alias("gram_h"),
    )
    matched = (
        corpus_grams.join(bench_grams, "gram_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    totals = corpus.select(
        F.col(id_col),
        F.size(word_shingles(F.col(text_col), n)).alias("n_grams"),
    ).filter(F.col("n_grams") > 0)
    return (
        totals.join(matched, id_col, "left")
        .select(
            id_col,
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("_m"), F.lit(0)).cast("bigint").alias("n_matched"),
            F.round(
                F.coalesce(F.col("_m"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("containment"),
        )
    )
